"""Correctness gate: every answer the benchmark timed, checked against a
reference that does not use Spark.

Search answers are compared with ``opensearch_spark.oracle.OracleIndex``
(top-10 ids in ``(score desc, conv_id, turn_idx)`` order and their float
scores); ``dis_max`` is composed here from the oracle's per-clause match
scores.  REST answers also check ``hits.total`` and the aggregation
buckets against a pandas groupby over the oracle's matched rows.  The
gate runs after the timed loop, so it costs no measured time.
"""

from __future__ import annotations

from typing import Dict, List, Optional

import pandas as pd

from opensearch_spark.oracle import OracleIndex

REL_TOL = 1e-6


def _match(orc: OracleIndex, spec) -> Dict[int, float]:
    if isinstance(spec, dict):
        msm = spec.get("minimum_should_match")
        return orc.match(spec["query"], spec.get("operator", "or"),
                         int(msm) if msm is not None else None)
    return orc.match(spec)


def scores(orc: OracleIndex, q: dict) -> Dict[int, float]:
    """Oracle doc -> score for the query shapes the workloads generate."""
    (kind, body), = q.items()
    if kind == "match":
        return _match(orc, body["text"])
    if kind == "term":
        return orc.term(body["text"])
    if kind == "match_phrase":
        return orc.phrase(body["text"])
    if kind == "dis_max":
        parts = [scores(orc, sub) for sub in body["queries"]]
        tie = float(body.get("tie_breaker", 0.0))
        out = {}
        for d in set().union(*parts):
            s = sorted((p[d] for p in parts if d in p), reverse=True)
            out[d] = s[0] + tie * sum(s[1:])
        return out
    if kind == "bool":
        (must,) = body["must"]
        (flt,) = body["filter"]
        (neg,) = body["must_not"]
        (fld, rng), = flt["range"].items()
        gte = pd.Timestamp(rng["gte"])
        (nfld, nval), = neg["term"].items()
        return orc.apply_bool(
            scores(orc, must),
            filter_ids=orc.filter_ids(lambda r: r[fld] >= gte),
            must_not_ids=orc.filter_ids(lambda r: r[nfld] == nval),
        )
    raise ValueError(f"no oracle for query kind {kind!r}")


def check_hits(got: List[tuple], gold: List[tuple]) -> Optional[str]:
    """``got`` and ``gold`` are ``[((conv_id, turn_idx), score)]``.
    Returns None when they agree, else why not."""
    order = sorted(got, key=lambda x: (-x[1], x[0]))
    if [g[0] for g in order] != [g[0] for g in got]:
        return "engine order breaks the (score desc, conv_id, turn_idx) tie-break"
    if [g[0] for g in got] != [g[0] for g in gold]:
        return f"top-k ids differ: engine={[g[0] for g in got]} oracle={[g[0] for g in gold]}"
    for (gid, gs), (_, os_) in zip(got, gold):
        if abs(gs - os_) > REL_TOL * max(1.0, abs(os_)):
            return f"score of {gid}: engine={gs!r} oracle={os_!r}"
    return None


def check_rest(orc: OracleIndex, body: dict, resp: dict) -> Optional[str]:
    sc = scores(orc, body["query"])
    gold = orc.topk(sc, int(body.get("size", 10)))
    got = []
    for h in resp["hits"]["hits"]:
        conv, turn = h["_id"].rsplit(":", 1)
        got.append(((conv, int(turn)), float(h["_score"])))
    why = check_hits(got, gold)
    if why:
        return why
    total = resp["hits"]["total"]
    if total != {"value": len(sc), "relation": "eq"}:
        return f"hits.total {total} != {len(sc)}"
    matched = pd.DataFrame(
        [orc.rows[d] for d in sc], columns=["role", "ts"]
    ) if sc else pd.DataFrame({"role": [], "ts": pd.Series([], dtype="datetime64[ns]")})
    aggs = resp["aggregations"]
    want_roles = matched.groupby("role").size().to_dict()
    got_roles = {b["key"]: b["doc_count"] for b in aggs["roles"]["buckets"]}
    if got_roles != want_roles:
        return f"terms(role) buckets {got_roles} != {want_roles}"
    hours = matched["ts"].dt.floor("h")
    want_hours = {
        int(k.value // 1_000_000): int(v) for k, v in hours.groupby(hours).size().items()
    }
    got_hours = {
        int(b["key"]): int(b["doc_count"]) for b in aggs["per_hour"]["buckets"]
        if b["doc_count"]
    }
    if got_hours != want_hours:
        return f"date_histogram(ts, hour) buckets differ: {got_hours} != {want_hours}"
    return None


def check_op(orc: OracleIndex, op: dict) -> Optional[str]:
    """Check one recorded operation; returns None or the reason it fails."""
    if op.get("error"):
        return op["error"]
    if op["kind"] == "rest":
        return check_rest(orc, op["body"], op["resp"])
    sc = scores(orc, op["body"])
    op["hits_total"] = len(sc)
    return check_hits(op["rows"], orc.topk(sc, 10))


def run_gate(base_rows: pd.DataFrame, batches: List[pd.DataFrame], ops: List[dict]) -> int:
    """Check every op against the oracle of the index state it ran on
    (``op["state"]`` = number of batches appended).  Marks each op with
    ``ok`` / ``why`` (and each search with its oracle ``hits_total``)
    and returns the number that failed."""
    failed = 0
    for state in range(len(batches) + 1):
        orc = OracleIndex(pd.concat([base_rows, *batches[:state]]).to_dict("records"))
        for op in ops:
            if op["state"] != state:
                continue
            why = check_op(orc, op)
            op["ok"] = why is None
            op["why"] = why
            failed += why is not None
    return failed
