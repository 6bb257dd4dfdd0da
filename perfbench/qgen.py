"""Seeded workload inputs: corpus sizes, request streams, append batches.

Everything here is a pure function of the workload seed.  The engine
sees only what these functions return: the corpus seed handed to
``transcripts.generate``, the query/request bodies, and the rows of
each append batch.
"""

from __future__ import annotations

import json
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.transcripts import (
    EPOCH,
    SPECIALS,
    STOPWORDS,
    TURN_STEP_S,
    VOCAB_SIZE,
    generate_pandas,
    n_turns,
)

# Request 1, and then one request in REST_EVERY, is a ``_search`` REST
# body; the rest go through ``SearchEngine.search``.  Request 0 is the
# search the benchmark sends before its timed loop.  Position-based, so
# runs of the same length hold the same mix whatever the seed; a run of
# the benchmark's length holds one REST request, the loop's first.
REST_EVERY = 20


def _is_rest(i: int) -> bool:
    return i % REST_EVERY == 1


STREAM_LEN = 1000

VOCAB = [f"w{i:04d}" for i in range(1, VOCAB_SIZE + 1)]
# Query-side forms of the corpus' special tokens (single analyzed token
# each), so term queries on them can hit.
SPECIAL_TERMS = sorted(
    {t for s in SPECIALS for t in ana.tokenize(str(s)) if len(t) < 40}
)
PLANTED = ["error handling", "slow query planner", "slow query", "query planner"]

REST_AGGS = {
    "roles": {"terms": {"field": "role"}},
    "per_hour": {"date_histogram": {"field": "ts", "calendar_interval": "hour"}},
}


def _ts_str(ts: np.datetime64) -> str:
    return str(ts.astype("datetime64[s]")).replace("T", " ")


class QueryMaker:
    """Builds FIXTURES §3 query shapes from a term sampler."""

    SHAPES = ("match_or", "match_and", "match_msm", "term", "bool", "phrase", "dis_max")

    def __init__(self, rng: np.random.Generator, words: List[str], span_s: int):
        self.rng = rng
        self.words = words
        self.span_s = span_s

    def _w(self, k: int) -> List[str]:
        return [self.words[i] for i in self.rng.integers(0, len(self.words), size=k)]

    def make(self, shape: str) -> dict:
        r = self.rng
        if shape == "match_or":
            return {"match": {"text": " ".join(self._w(int(r.integers(1, 4))))}}
        if shape == "match_and":
            return {"match": {"text": {"query": " ".join(self._w(2)), "operator": "and"}}}
        if shape == "match_msm":
            return {"match": {"text": {"query": " ".join(self._w(3)),
                                       "minimum_should_match": 2}}}
        if shape == "term":
            return {"term": {"text": self._w(1)[0]}}
        if shape == "bool":
            gte = EPOCH + np.timedelta64(int(r.integers(0, self.span_s // 2)) // 60 * 60, "s")
            return {"bool": {
                "must": [{"match": {"text": " ".join(self._w(2))}}],
                "filter": [{"range": {"ts": {"gte": _ts_str(gte)}}}],
                "must_not": [{"term": {"role": "tool"}}],
            }}
        if shape == "phrase":
            if r.random() < 0.5:
                return {"match_phrase": {"text": PLANTED[int(r.integers(0, len(PLANTED)))]}}
            return {"match_phrase": {"text": " ".join(self._w(2))}}
        if shape == "dis_max":
            return {"dis_max": {
                "queries": [{"match": {"text": w}} for w in self._w(2)],
                "tie_breaker": 0.3,
            }}
        raise ValueError(shape)

    def rest(self, query: dict) -> dict:
        return {"query": query, "size": 10, "track_total_hits": True, "aggs": REST_AGGS}


def _hot_words() -> List[str]:
    # the head of the corpus' Zipf-ranked vocabulary plus the planted
    # phrase words and specials: every hot term occurs in the corpus
    return VOCAB[:200] + ["error", "handling", "slow", "query", "planner"] + SPECIAL_TERMS


def _tail_words() -> List[str]:
    return VOCAB + list(STOPWORDS) + SPECIAL_TERMS


def request_stream(workload: str, seed: int, n_convs: int) -> List[Tuple[str, dict]]:
    """``[(kind, body)]`` with kind "search" (a query DSL dict) or "rest"
    (a ``_search`` body with ``track_total_hits`` and aggs)."""
    rng = np.random.default_rng([seed, 7])
    span_s = n_turns(n_convs) * TURN_STEP_S
    shapes = QueryMaker.SHAPES
    if workload == "serve-hot":
        # a pool of 50 distinct queries (shape = pool rank mod 7) drawn
        # Zipf-popular, so many requests repeat one seen before.  The
        # popularity sequence is fixed, so every run holds the same
        # repeat pattern and shape mix; the seed picks the terms.
        qm = QueryMaker(rng, _hot_words(), span_s)
        pool = [qm.make(shapes[r % len(shapes)]) for r in range(50)]
        rest_pool = [qm.rest(qm.make("match_or")) for _ in range(5)]

        def zipf(n):
            p = 1.0 / np.arange(1, n + 1) ** 1.3
            return np.random.default_rng(0).choice(n, size=STREAM_LEN, p=p / p.sum())

        pick, rpick = zipf(len(pool)), zipf(len(rest_pool))
        return [
            ("rest", rest_pool[rpick[i]]) if _is_rest(i) else ("search", pool[pick[i]])
            for i in range(STREAM_LEN)
        ]
    if workload == "serve-tail":
        # fresh terms from the whole vocabulary plus stopwords and
        # specials: nearly every request is unique.  Shapes cycle by
        # stream position, so every run holds the same shape mix.
        qm = QueryMaker(rng, _tail_words(), span_s)
        return [
            ("rest", qm.rest(qm.make("match_or"))) if _is_rest(i)
            else ("search", qm.make(shapes[i % len(shapes)]))
            for i in range(STREAM_LEN)
        ]
    raise ValueError(f"unknown workload {workload!r}")


def batch_rows(seed: int, lo: int, hi: int) -> pd.DataFrame:
    """Rows of conversations [lo, hi): appended conv ids never overlap
    the base corpus [0, lo) or another batch."""
    return generate_pandas(np.arange(lo, hi), seed)


def query_terms(q) -> List[str]:
    """Analyzed text terms of a query or REST body (for the qgen shares)."""
    if isinstance(q, dict):
        out: List[str] = []
        for k, v in q.items():
            if k in ("match", "match_phrase") and "text" in v:
                t = v["text"]
                out += ana.tokenize(t["query"] if isinstance(t, dict) else t)
            elif k == "term" and "text" in v:
                out.append(v["text"])
            else:
                out += query_terms(v)
        return out
    if isinstance(q, list):
        return [t for x in q for t in query_terms(x)]
    return []


def repeat_shares(bodies: List[dict]) -> Dict[str, float]:
    """Share of requests, and of query terms, already seen earlier in
    the stream — what the engine's caches could reuse."""
    seen_q, seen_t = set(), set()
    rq = rt = nt = 0
    for b in bodies:
        key = json.dumps(b, sort_keys=True)
        rq += key in seen_q
        seen_q.add(key)
        for t in query_terms(b):
            nt += 1
            rt += t in seen_t
            seen_t.add(t)
    return {
        "repeat_query_frac": rq / max(1, len(bodies)),
        "repeat_term_frac": rt / max(1, nt),
    }
