"""The single-expression BM25 clause (query/bm25.py): bit-identity with
the numpy twin over the whole norm-byte range, the SQL literal
encoders, and user terms carrying SQL-significant characters scored
end to end against the pure-Python oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from opensearch_spark.analysis import smallfloat as sfl
from opensearch_spark.query import bm25

IDFS = (0.0123456789, 1.0, 7.654321)


@pytest.mark.parametrize("avgdl,k1,b", [(12.5, bm25.K1, bm25.B), (3.3, 0.9, 0.4)])
def test_score_col_bit_identical_to_numpy(spark, avgdl, k1, b):
    """Every norm byte (0-255) x tf 1-64 x three idfs: the parsed SQL
    clause equals term_score_np bit for bit, with the idf as a column
    fragment and as a literal."""
    grid = (
        spark.range(256).select(F.col("id").cast("int").alias("norm_byte"))
        .crossJoin(spark.range(1, 65).select(F.col("id").cast("int").alias("tf")))
        .crossJoin(spark.createDataFrame([(v,) for v in IDFS], "idf double"))
    )
    rows = grid.select(
        "norm_byte", "tf", "idf",
        bm25.score_col("tf", "idf", "norm_byte", avgdl, k1, b).alias("s"),
        *[
            bm25.score_col("tf", v, "norm_byte", avgdl, k1, b).alias(f"s{i}")
            for i, v in enumerate(IDFS)
        ],
    ).toPandas()
    assert len(rows) == 256 * 64 * len(IDFS)
    dl = sfl.DECODE_TABLE[rows["norm_byte"].to_numpy()]
    want = bm25.term_score_np(
        rows["tf"].to_numpy(), rows["idf"].to_numpy(), dl, avgdl, k1, b
    )
    got = rows["s"].to_numpy(np.float32)
    assert np.array_equal(got.view(np.uint32), want.view(np.uint32))
    for i, v in enumerate(IDFS):
        sel = (rows["idf"] == v).to_numpy()
        lit = rows[f"s{i}"].to_numpy(np.float32)[sel]
        assert np.array_equal(lit.view(np.uint32), want[sel].view(np.uint32))


def test_norm_decode_col_matches_table(spark):
    out = (
        spark.range(256)
        .select(F.col("id").cast("int").alias("n"))
        .select(bm25.norm_decode_col("n").alias("dl"))
        .toPandas()["dl"]
        .to_numpy()
    )
    assert np.array_equal(out, sfl.DECODE_TABLE)


HOSTILE = ["'", "\\", ";", "a\nb", "' OR 1=1 --", "naïve", ""]


def test_sql_string_cannot_break_out(spark):
    """The encoded literal is hex inside one quoted string, and Spark
    folds it back to exactly the input text."""
    for s in HOSTILE:
        frag = bm25.sql_string(s)
        inner = frag.split("'")[1]
        assert frag == f"decode(unhex('{inner}'), 'UTF-8')"
        assert all(c in "0123456789abcdef" for c in inner)
    got = spark.range(1).select(
        *[F.expr(bm25.sql_string(s)).alias(f"c{i}") for i, s in enumerate(HOSTILE)]
    ).collect()[0]
    assert list(got) == HOSTILE


def test_term_case_and_double_literals(spark):
    vals = {s: bm25.sql_double(i + 0.1) for i, s in enumerate(HOSTILE)}
    frame = spark.createDataFrame([(s,) for s in HOSTILE + ["other"]], "term string")
    got = dict(
        frame.select("term", F.expr(bm25.term_case_sql(vals, "-1.0D")).alias("v"))
        .collect()
    )
    assert got == {**{s: i + 0.1 for i, s in enumerate(HOSTILE)}, "other": -1.0}
    for x in (0.1, 1e-300, 2.5e17, 1 / 3):
        assert spark.range(1).select(F.expr(bm25.sql_double(x))).first()[0] == x


@pytest.fixture(scope="module")
def quoted_corpus(spark, tmp_path_factory):
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.oracle import OracleIndex
    from opensearch_spark.query.executor import SearchEngine

    texts = [
        "don't stop", "o'brien said don't", "a naïve plan", "naïve naïve o'brien",
        "plain words only", "don't don't don't o'brien naïve", "stop the plan",
        "said the naïve o'brien", "nothing here", "o'brien",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:02d}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": pd.Timestamp("2026-01-01"),
        }
    )
    d = str(tmp_path_factory.mktemp("quoted") / "idx")
    build_index(spark, spark.createDataFrame(pdf), d, IndexConfig(n_segments=2))
    return SearchEngine(InvertedIndex(spark, d)), OracleIndex(pdf.to_dict("records"))


@pytest.mark.parametrize("term", ["don't", "o'brien", "naïve"])
def test_quoted_terms_score_like_oracle(quoted_corpus, term):
    """Terms with quotes and non-ASCII letters survive analysis and
    reach the per-term CASE literals; match, term and dis_max must
    equal the oracle's ids and scores."""
    from tests.conftest import assert_rank_identical

    eng, orc = quoted_corpus
    assert term in orc.post
    other = "plan"
    cases = [
        ({"match": {"text": f"{term} {other}"}}, orc.match(f"{term} {other}")),
        ({"term": {"text": term}}, orc.term(term)),
    ]
    a, b = orc.match(term), orc.match(other)
    dm = {}
    for d in set(a) | set(b):
        hi, lo = sorted([a.get(d, 0.0), b.get(d, 0.0)], reverse=True)
        dm[d] = hi + 0.5 * lo
    cases.append(
        (
            {
                "dis_max": {
                    "queries": [
                        {"match": {"text": term}},
                        {"term": {"text": other}},
                    ],
                    "tie_breaker": 0.5,
                }
            },
            dm,
        )
    )
    for q, gold in cases:
        assert gold
        rows = eng.search(q, size=20).collect()
        assert_rank_identical(rows, orc.topk(gold, 20))
