"""``search_as_you_type`` field type.

Reference: ``modules/mapper-extras/.../SearchAsYouTypeFieldMapper.java``
— one logical field indexed several ways: the root field (standard
analysis), shingle subfields ``._2gram`` … ``._Ngram`` (word shingles
of exactly n tokens, no unigrams), and a prefix-accelerator subfield
``._index_prefix`` (edge n-grams over the largest shingle field).  The
documented query shape is a ``multi_match`` of type ``bool_prefix``
over the root + shingle subfields
(``SearchAsYouTypeFieldMapperTests``; the ES/OpenSearch docs' canonical
example), which scores completed shingles as term clauses and the
trailing partial shingle as a prefix clause.

Spark-first mapping: each subfield is one more field-partitioned index
directory (the per-field layout of ``query/multifield.py``) built from
the SAME docs/routing so docids align; the shingle analysis is the
composable chain's ``shingle`` token filter with
``output_unigrams=false``.  The ``._index_prefix`` subfield is NOT
materialized: its only job in Lucene is to turn prefix matching into
term lookup, and this engine's prefix clauses already resolve through
the term dictionary (``executor._expand_terms`` — dictionary
expansion, capped), which is the same work the edge-ngram index
pre-pays.  That trade is deliberate and documented: at 100 TB an
edge-ngram index multiplies index size ~7x for the prefix field while
the dictionary scan is a pruned metadata read.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.query.executor import SearchEngine
from opensearch_spark.query.multifield import MultiFieldEngine
from opensearch_spark.query import dsl as Q


def _shingle_analyzer(n: int) -> dict:
    return {
        "tokenizer": "standard",
        "filter": [
            {
                "type": "shingle",
                "min_shingle_size": n,
                "max_shingle_size": n,
                "output_unigrams": False,
            }
        ],
    }


def build_search_as_you_type(
    spark: SparkSession,
    docs: DataFrame,
    root_dir: str,
    field: str,
    max_shingle_size: int = 3,
    base: Optional[IndexConfig] = None,
    root_engine: Optional[SearchEngine] = None,
) -> MultiFieldEngine:
    """Build the root + shingle subfield indexes for ``field`` under
    ``root_dir`` (``<root>/field=<name>``, aligned docids) and return a
    :class:`MultiFieldEngine` whose field names follow the reference's
    subfield naming (``f``, ``f._2gram``, ``f._3gram``).  Pass
    ``root_engine`` to reuse an already-built index for the root field
    (docids align as long as it was built from the same docs/routing)."""
    if max_shingle_size < 2 or max_shingle_size > 4:
        raise ValueError("max_shingle_size must be 2..4 (SearchAsYouTypeFieldMapper)")
    base = base or IndexConfig()
    engines: Dict[str, SearchEngine] = {}
    specs: List[Tuple[str, Optional[dict]]] = [
        (f"{field}._{n}gram", _shingle_analyzer(n))
        for n in range(2, max_shingle_size + 1)
    ]
    if root_engine is not None:
        engines[field] = root_engine
    else:
        specs = [(field, None)] + specs
    import dataclasses

    for name, analyzer in specs:
        d = os.path.join(root_dir, f"field={name}")
        if not os.path.exists(os.path.join(d, "stats.json")):
            # preserve EVERY base setting (block_size, stopwords, n_segments,
            # index_sort, ...); only the text column and — for shingle
            # subfields — the analyzer pair are overridden (the shingle
            # analyzer must drive BOTH index and search analysis, so a
            # base search_analyzer is cleared there)
            overrides = {"text_col": field}
            if analyzer is not None:
                overrides.update(analyzer=analyzer, search_analyzer=None)
            cfg = dataclasses.replace(base, **overrides)
            build_index(spark, docs, d, cfg)
        engines[name] = SearchEngine(InvertedIndex(spark, d))
    return MultiFieldEngine(engines, field)


def sayt_query(field: str, text: str, max_shingle_size: int = 3) -> Q.MultiMatch:
    """The canonical search_as_you_type query: ``multi_match`` type
    ``bool_prefix`` over the root + shingle subfields (per-field
    match_bool_prefix, scores summed — BOOL_PREFIX's group tie-breaker
    is 1.0)."""
    fields = [(field, 1.0)] + [
        (f"{field}._{n}gram", 1.0) for n in range(2, max_shingle_size + 1)
    ]
    return Q.MultiMatch(text, fields, type="bool_prefix")
