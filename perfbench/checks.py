"""Answer checks against the package's exhaustive scorer (``oracle.py``).

Scores compare with ``rel_tol=1e-9`` (FIXTURES.md section 3).
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

from information_retrieval_images_spark.oracle import OracleIndex
from information_retrieval_images_spark.textproc import bm25_idf, bm25_tf_norm, tokenize

REL_TOL = 1e-9


def all_scores(idx: OracleIndex, query_text: str) -> dict[str, float]:
    """url -> BM25 score of every matching doc, with the oracle's arithmetic
    (``oracle.oracle_topk`` without the cut to k)."""
    scores: dict[int, float] = defaultdict(float)
    for term in tokenize(query_text):
        plist = idx.postings.get(term)
        if not plist:
            continue
        idf = float(bm25_idf(len(plist), idx.n_docs))
        for doc_id, tf in plist.items():
            scores[doc_id] += idf * float(bm25_tf_norm(tf, idx.doclen[doc_id], idx.avgdl))
    return {idx.url_of[d]: s for d, s in scores.items()}


def ranked_mismatch(got: list[tuple[str, float]], want: list[tuple[int, str, float]]) -> str | None:
    """Exact check: the same urls in the same order, scores within tolerance.
    For indexes whose doc ids follow the oracle's assignment, so ties break
    identically. Returns None when equal, else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for rank, ((url, score), (_, w_url, w_score)) in enumerate(zip(got, want), start=1):
        if url != w_url or not math.isclose(score, w_score, rel_tol=REL_TOL):
            return f"rank {rank}: {url} {score!r} != {w_url} {w_score!r}"
    return None


def scored_mismatch(got: list[tuple[str, float]], scores: dict[str, float], k: int) -> str | None:
    """Tie-tolerant check for indexes whose appended docs got ids in another
    order than the oracle's: the score at every rank equals the oracle's
    k best, and every returned url carries its oracle score."""
    best = sorted(scores.values(), reverse=True)[:k]
    if len(got) != len(best):
        return f"{len(got)} rows, oracle has {len(best)}"
    for rank, ((url, score), w_score) in enumerate(zip(got, best), start=1):
        if not math.isclose(score, w_score, rel_tol=REL_TOL):
            return f"rank {rank}: score {score!r} != oracle {w_score!r}"
        if url not in scores or not math.isclose(score, scores[url], rel_tol=REL_TOL):
            return f"rank {rank}: {url} scored {score!r}, oracle {scores.get(url)!r}"
    return None


def table_mismatch(wh: str, reference: str, tables) -> str | None:
    """Row-for-row check of a build against a checked build of the same
    corpus: every table holds the same rows (in any order) with the same
    values. The arrow and sql engines write the same rows. Returns None when
    equal, else a short reason."""
    import pyarrow.dataset as ds

    def rows(path):
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        return t.sort_by([(c, "ascending") for c in sorted(t.column_names)])

    for table in tables:
        got, want = rows(os.path.join(wh, table)), rows(os.path.join(reference, table))
        if sorted(got.column_names) != sorted(want.column_names):
            return f"{table}: columns {sorted(got.column_names)} != {sorted(want.column_names)}"
        for col in want.column_names:
            if got.column(col).to_pylist() != want.column(col).to_pylist():
                return f"{table}.{col}: {got.num_rows} rows differ from the reference build's {want.num_rows}"
    return None
