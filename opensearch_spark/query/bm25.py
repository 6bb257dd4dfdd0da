"""Okapi BM25 scoring, Lucene-9-compatible (SURVEY.md §4.6).

Reference defaults: ``LegacyBM25Similarity(k1=1.2, b=0.75)``
(``server/src/main/java/org/opensearch/index/similarity/SimilarityProviders.java:274-281``,
``SimilarityService.java:72``).  Effective Lucene 9 formula:

    idf    = ln(1 + (N - df + 0.5) / (df + 0.5))
    score  = idf * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

with ``dl`` the SmallFloat-byte4-quantized field length and
``avgdl = sumTotalTermFreq / docCount`` from **global** corpus stats (our
single-postings-table design gives DFS_QUERY_THEN_FETCH semantics for
free, SURVEY.md §3.1).  Per-term scores are computed in float64 and
rounded to float32 — the same double-compute-then-narrow Lucene does —
then summed across terms in float64.

This is the only module that writes the clause as a plan expression.
``score_col`` renders the whole clause — norm decode, the k1/b formula
and the idf — as ONE SQL string parsed by a single ``F.expr`` call, so
building a scorer costs a handful of py4j round-trips instead of one
per literal.  The norm decode is ``element_at`` over the 256-entry
``NORM_TABLE_SQL`` array literal (a module constant), so scoring stays
inside whole-stage codegen: no Python in the per-posting hot path.
Doubles are written ``repr(x) + "D"`` (exact round-trip), and terms —
user input — enter SQL text only through ``sql_string``'s hex encoding.
"""

from __future__ import annotations

import math
from typing import Mapping, Optional, Union

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from opensearch_spark.analysis import smallfloat as sfl

K1 = 1.2
B = 0.75

# byte4ToInt(b) for b in 0..255 as a SQL array literal (element_at is
# 1-indexed: the decoded length of norm byte b is element b + 1)
NORM_TABLE_SQL = "array(" + ", ".join(str(int(v)) for v in sfl.DECODE_TABLE) + ")"


def idf(df: int, doc_count: int) -> float:
    """Lucene-9 BM25 idf on global stats (float64)."""
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def sql_double(x: float) -> str:
    """A float64 SQL literal that parses back to exactly ``x``."""
    return repr(float(x)) + "D"


def sql_string(s: str) -> str:
    """A SQL string literal for arbitrary text: the UTF-8 bytes ride as
    hex, so no quote, backslash or newline in ``s`` can end the literal.
    Catalyst folds the decode to a constant."""
    return f"decode(unhex('{s.encode('utf-8').hex()}'), 'UTF-8')"


def term_case_sql(values: Mapping[str, str], default: Optional[str] = None) -> str:
    """``CASE`` over the ``term`` column mapping each term to a SQL value
    fragment (NULL, or ``default``, for any other term)."""
    whens = " ".join(
        f"WHEN term = {sql_string(t)} THEN {v}" for t, v in values.items()
    )
    other = f" ELSE {default}" if default is not None else ""
    return f"CASE {whens}{other} END"


def idf_sql(df: str, doc_count: int) -> str:
    """SQL twin of :func:`idf` over a df column fragment."""
    n = sql_double(doc_count)
    return f"ln(1.0D + ({n} - {df} + 0.5D) / ({df} + 0.5D))"


def _norm_decode_sql(norm: str) -> str:
    return f"element_at({NORM_TABLE_SQL}, {norm} + 1)"


def norm_decode_col(norm: str) -> Column:
    """Quantized doc length (int) from the 1-byte norm column ``norm``."""
    return F.expr(_norm_decode_sql(norm))


def score_col(
    tf: str,
    idf_val: Union[float, str],
    norm: str,
    avgdl: float,
    k1: float = K1,
    b: float = B,
) -> Column:
    """Per-(term, doc) BM25 score, float64 math narrowed to float32.

    ``tf`` and ``norm`` are SQL fragments (column names); ``idf_val`` is a
    float or a SQL fragment (a per-term CASE, a column).  One parse."""
    idf_s = (
        sql_double(idf_val) if isinstance(idf_val, (int, float)) else f"({idf_val})"
    )
    tf_d = f"CAST({tf} AS DOUBLE)"
    dl = f"CAST({_norm_decode_sql(norm)} AS DOUBLE)"
    norm_part = (
        f"{sql_double(k1)} * ({sql_double(1.0 - b)} + {sql_double(b)} * {dl}"
        f" / {sql_double(avgdl)})"
    )
    return F.expr(
        f"CAST({idf_s} * {sql_double(k1 + 1.0)} * {tf_d} / ({tf_d} + {norm_part})"
        " AS FLOAT)"
    )


def term_score_np(
    tf: np.ndarray, idf_val: float, dl: np.ndarray, avgdl: float,
    k1: float = K1, b: float = B,
) -> np.ndarray:
    """Numpy twin of score_col (used by WAND bounds + the oracle)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    denom = tf + k1 * (1.0 - b + b * dl / avgdl)
    return (idf_val * (k1 + 1.0) * tf / denom).astype(np.float32)


def block_max_score(
    max_tf: np.ndarray, idf_val: float, min_dl: np.ndarray, avgdl: float,
    k1: float = K1, b: float = B,
) -> np.ndarray:
    """Upper bound of any score inside a block (block-max WAND metadata):
    monotonically increasing in tf, decreasing in dl, so (max_tf, min_dl)
    bounds the block (SURVEY.md §4.4)."""
    return term_score_np(max_tf, idf_val, min_dl, avgdl, k1, b)
