"""Result checks against the independent golden BM25 scorer (tests/golden.py).

The golden scorer is plain Python over the same rows the program indexed,
so a check needs the program's doc_id for each row: it is read back from the
index's docs table and joined on ``path``, which the corpus generator makes
unique per document.
"""

from __future__ import annotations

import collections
from typing import Dict, Iterable, Sequence, Tuple

import pandas as pd

REL_TOL = 1e-6


def golden_index(corpus: pd.DataFrame, ids: pd.DataFrame):
    """GoldenIndex over ``corpus`` rows, keyed by the program's doc_ids
    (``ids`` holds ``doc_id`` and ``path`` as read from the index)."""
    from golden import GoldenIndex
    docs = corpus.merge(ids[["doc_id", "path"]], on="path", how="inner")
    if len(docs) != len(corpus):
        raise AssertionError(
            f"{len(corpus) - len(docs)} corpus rows missing from the index")
    return GoldenIndex(docs, "doc_id", {"content": "default"},
                       ["repo", "path", "lang", "commit"])


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def check_topk(rows: Sequence[Tuple[int, float]], gold: Dict[int, float],
               k: int) -> str:
    """'' when ``rows`` is a valid top-k of ``gold``, else the reason.

    Rank by rank the scores must equal the golden top-k scores, and every
    returned doc must match with its golden score; docs that tie on score
    may come in either order.
    """
    want = sorted(gold.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(rows) != len(want):
        return f"{len(rows)} hits, golden has {len(want)}"
    if len({d for d, _ in rows}) != len(rows):
        return "duplicate doc_id"
    for i, ((d, s), (_, ws)) in enumerate(zip(rows, want)):
        if not _close(s, ws):
            return f"rank {i}: score {s!r} != golden {ws!r}"
        if d not in gold or not _close(gold[d], s):
            return f"rank {i}: doc {d} is not a golden hit with score {s!r}"
    return ""


def check_terms_agg(rows: Iterable[Tuple[str, int]], gold: Dict[int, float],
                    lang_of: Dict[int, str]) -> str:
    got = {k: int(v) for k, v in rows}
    want = dict(collections.Counter(lang_of[d] for d in gold))
    return "" if got == want else f"buckets {got} != golden {want}"


def check_count(n: int, gold: Dict[int, float]) -> str:
    return "" if n == len(gold) else f"count {n} != golden {len(gold)}"
