"""Seeded inputs: corpus Parquet, query streams and update batches.

Everything here is a pure function of the workload and the seed.  The corpus
comes from ``tantivy4java_spark.corpus.generate_pandas`` in the input_hint
schema ``(repo, path, commit, lang, content)``; query parameters and the
order of query classes come from ``random.Random`` seeded from the same
seed.  The same seed therefore gives byte-identical inputs, which
``fingerprint`` checks on every run.
"""

from __future__ import annotations

import collections
import hashlib
import itertools
import json
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List

import pandas as pd

from tantivy4java_spark.corpus import generate_pandas

# docs per corpus; the search corpus is the smallest that keeps every broad
# query's candidate volume (decoded postings rows) over the driver fast
# path's budget of 200k rows: `var*` reaches ~257k rows at 6k docs, 170k at 4k
CORPUS_DOCS = {"search": 6000, "update_mix": 3000}
NUM_SEGMENTS = 4
UPDATE_BATCH_DOCS = 40
UPDATE_ROUNDS = 8  # more than a run can finish
# pasted code blocks grow until their terms' summed document frequency
# reaches this many postings rows
CODE_BLOCK_ROWS = 220_000

# keywords are drawn from pools of similar document frequency, so the cost
# of a query class varies little from seed to seed
HIGH_DF_KEYWORDS = ["class", "shuffle"]  # in ~60% of docs
MID_DF_KEYWORDS = ["async", "public", "static", "extends", "void", "package",
                   "interface", "executor", "final", "private"]  # in 22-29%
LANGS = ["java", "python", "rust", "scala", "go", "md"]

NARROW_CLASSES = ["term_rare", "term_common", "and", "or2", "phrase",
                  "phrase_slop2", "field_scoped", "wildcard_narrow", "fuzzy",
                  "top100", "agg_terms", "count"]
BROAD_CLASSES = ["code_block", "prefix_wildcard", "id_regex"]
BROAD_WILDCARDS = ["content:var*", "content:var?*"]
BROAD_REGEXES = ["content:/(var|fn)[0-9]+/", "content:/(var|fn)[1-9][0-9]*/",
                 "content:/var[0-9]+|fn[0-9]{2,3}/"]


@dataclass(frozen=True)
class QuerySpec:
    """One query of a stream: its class, the query (a query-string for
    parsed classes, otherwise a queries.* node) and the result size."""
    cls: str
    query: object
    limit: int = 10


@dataclass
class Inputs:
    workload: str
    seed: int
    corpus: pd.DataFrame
    cycles: List[List[QuerySpec]]  # selective queries
    expansions: List[QuerySpec] = field(default_factory=list)  # one a round
    broad: List[QuerySpec] = field(default_factory=list)  # after the rounds
    warmup: List[QuerySpec] = field(default_factory=list)
    batches: List[pd.DataFrame] = field(default_factory=list)

    @property
    def num_docs(self) -> int:
        return len(self.corpus)


def _corpus_seed(seed: int) -> int:
    return (seed * 2654435761 + 97) % (2**31)


def _doc_freq(corpus: pd.DataFrame) -> Dict[str, int]:
    df = collections.Counter()
    for text in corpus["content"]:
        df.update(set(text.split()))
    return df


def _misspell(rng: random.Random, word: str) -> str:
    i = rng.randrange(1, len(word) - 1)
    return word[:i] + word[i + 1:]


def _narrow_query(rng: random.Random, cls: str, corpus: pd.DataFrame,
                  repos: List[str], lang: str = ""):
    from tantivy4java_spark import queries as Q
    kw = rng.choice(MID_DF_KEYWORDS)
    if cls == "term_rare":
        return QuerySpec(cls, Q.Term("content", f"fn{rng.randrange(150, 400)}"))
    if cls == "term_common":
        return QuerySpec(cls, Q.Term("content", rng.choice(HIGH_DF_KEYWORDS)))
    if cls == "top100":
        return QuerySpec(cls, Q.Term("content", rng.choice(HIGH_DF_KEYWORDS)),
                         limit=100)
    if cls in ("agg_terms", "count"):
        return QuerySpec(cls, Q.Term("content", kw))
    if cls == "and":
        lang = lang or rng.choice(LANGS)
        return QuerySpec(cls, Q.Boolean(must=[Q.Term("content", kw),
                                              Q.Term("lang", lang)]))
    if cls == "or2":
        a, b = rng.randrange(60, 100), rng.randrange(20, 60)
        return QuerySpec(cls, Q.Boolean(should=[Q.Term("content", f"var{a}"),
                                                Q.Term("content", f"fn{b}")]))
    if cls in ("phrase", "phrase_slop2"):
        toks = corpus["content"].iloc[rng.randrange(len(corpus))].split()
        i = rng.randrange(len(toks) - 2)
        if cls == "phrase":
            return QuerySpec(cls, Q.Phrase("content", (toks[i], toks[i + 1])))
        return QuerySpec(cls, Q.Phrase("content", (toks[i], toks[i + 2]), slop=2))
    if cls == "field_scoped":
        return QuerySpec(cls, Q.Boolean(must=[Q.Term("repo", rng.choice(repos)),
                                              Q.Term("content", kw)]))
    if cls == "wildcard_narrow":
        return QuerySpec(cls, Q.Wildcard("content", f"fn{rng.randrange(10, 40)}*"))
    if cls == "fuzzy":
        word = rng.choice([w for w in MID_DF_KEYWORDS if len(w) >= 6])
        return QuerySpec(cls, Q.Fuzzy("content", _misspell(rng, word), 1))
    raise ValueError(cls)


def _code_block(rng: random.Random, held_out: pd.DataFrame,
                doc_freq: Dict[str, int]) -> str:
    """Lines pasted from unindexed code, long enough that their terms'
    postings exceed CODE_BLOCK_ROWS; each term is kept once."""
    start = rng.randrange(len(held_out))
    seen, rows = {}, 0
    for j in range(len(held_out)):
        for tok in held_out["content"].iloc[(start + j) % len(held_out)].split():
            if tok not in seen:
                seen[tok] = None
                rows += doc_freq.get(tok, 0)
                if rows >= CODE_BLOCK_ROWS:
                    return " ".join(seen)
    raise ValueError("held-out code cannot reach CODE_BLOCK_ROWS")


def make_inputs(workload: str, seed: int, cycles: int = 16) -> Inputs:
    from tantivy4java_spark import queries as Q
    rng = random.Random(f"{workload}:{seed}")
    n = CORPUS_DOCS[workload]
    cseed = _corpus_seed(seed)
    corpus = generate_pandas(0, n, seed=cseed)
    repos = sorted(corpus["repo"].unique())
    inp = Inputs(workload, seed, corpus, [])
    if workload == "search":
        held_out = generate_pandas(n, 64, seed=cseed, min_tokens=200,
                                   max_tokens=400)
        doc_freq = _doc_freq(corpus)

    def spec(cls: str, lang: str = "") -> QuerySpec:
        if cls == "code_block":
            return QuerySpec(cls, _code_block(rng, held_out, doc_freq))
        if cls == "prefix_wildcard":
            return QuerySpec(cls, rng.choice(BROAD_WILDCARDS))
        if cls == "id_regex":
            return QuerySpec(cls, rng.choice(BROAD_REGEXES))
        return _narrow_query(rng, cls, corpus, repos, lang)

    if workload == "search":
        # one query of each selective class and of both expansion classes,
        # and an AND for every `lang` value: the first query on a `lang`
        # term costs up to a second more
        kw = rng.choice(MID_DF_KEYWORDS)
        inp.warmup = [spec(c) for c in NARROW_CLASSES + BROAD_CLASSES[1:]] + [
            QuerySpec("and", Q.Boolean(must=[Q.Term("content", kw),
                                             Q.Term("lang", lang)]))
            for lang in LANGS]
    # each cycle runs every selective class three times, in a seeded order;
    # its three ANDs take the `lang` values in turn, half of them per cycle,
    # because an AND costs 65-350 ms depending on its `lang` term
    langs = itertools.cycle(LANGS)
    for _ in range(cycles):
        order = rng.sample(NARROW_CLASSES * 3, 3 * len(NARROW_CLASSES))
        inp.cycles.append([spec(c, next(langs) if c == "and" else "")
                           for c in order])
    if workload == "search":
        # every round of the timed loop ends with the same kind of broad
        # query, a prefix wildcard, so that each round costs about the same
        inp.expansions = [spec("prefix_wildcard") for _ in range(cycles)]
        inp.broad = [spec("code_block")]
    if workload == "update_mix":
        half = UPDATE_BATCH_DOCS // 2
        for r in range(UPDATE_ROUNDS):
            b = generate_pandas(n + r * UPDATE_BATCH_DOCS, UPDATE_BATCH_DOCS,
                                seed=cseed)
            marks = [f" fresh{r}" + (f" drop{r}" if i < half else "")
                     for i in range(UPDATE_BATCH_DOCS)]
            b["content"] = b["content"] + pd.Series(marks, index=b.index)
            inp.batches.append(b)
    return inp


def write_corpus(inp: Inputs, path: str) -> int:
    """Write the corpus as one Parquet file; returns its size in bytes."""
    inp.corpus.to_parquet(path, index=False, compression="snappy")
    return os.path.getsize(path)


def fingerprint(inp: Inputs, parquet_path: str) -> str:
    """sha256 over the corpus Parquet bytes, the query streams and the
    update batches."""
    h = hashlib.sha256()
    with open(parquet_path, "rb") as f:
        h.update(f.read())
    for cyc in [inp.warmup, inp.expansions, inp.broad] + inp.cycles:
        h.update(json.dumps([(q.cls, repr(q.query), q.limit) for q in cyc]).encode())
    for b in inp.batches:
        h.update(b.to_json(orient="split").encode())
    return h.hexdigest()
