"""Distributed, resumable inverted-index builder.

Pipeline (mirrors the reference's ``_bulk`` indexing path, SURVEY.md §3.2):

1. **Route**: each document is assigned to a segment by a deterministic hash
   of its routing key (default ``conv_id``) — the Spark analog of the
   reference's murmur3 doc->shard routing
   (``cluster/routing/OperationRouting.java:449-475``,
   ``Murmur3HashFunction.java:48-62``).  Routing by ``conv_id`` keeps whole
   conversations co-located, like OpenSearch custom routing.  This is the
   ONE big shuffle of the build; it carries raw text (tokens are produced
   after the shuffle so token arrays are never shuffled).
2. **Per-segment inversion** (``applyInPandas`` over ``groupBy(_seg)``):
   sort by the stable id columns, assign dense global docIDs
   (segment offset + local ordinal), analyze text with the standard
   analyzer, invert to term-sorted postings, and pack 128-doc blocks
   (d-gap varint docIDs, varint tfs, raw norm bytes, delta varint
   positions) — the Spark analog of a Lucene segment write
   (``index/engine/InternalEngine.java:145-155``).  All inner math is
   numpy-vectorized; there are no row-at-a-time Python UDFs.
3. **Commit**: one unified parquet write partitioned by row kind
   (postings / docmap / per-segment manifest rows).  Spark's job-level
   output commit makes each wave all-or-nothing; per-segment manifest
   JSONs (the translog-checkpoint analog,
   ``index/translog/Translog.java:98-224``) are written after commit and
   let a re-run skip completed waves (resume).
4. **Finalize**: global term dictionary (df / total_tf per term — global
   stats, i.e. DFS_QUERY_THEN_FETCH semantics, SURVEY.md §3.1) and corpus
   stats (N, sum_dl, avgdl for BM25).

Scale notes (designed for ~10^12 turns / 1000 executors):
- ``n_segments`` bounds per-task memory: one segment is inverted in memory
  (like a Lucene flush buffer); size segments to ~1-4M turns.
- the routing shuffle is the only full-data shuffle; inversion is
  embarrassingly parallel per segment, so throughput scales linearly with
  executors (scaling-efficiency evidence in BENCH/BASELINE.md).
- hot terms do NOT skew this build: blocks are built per segment, so a
  stopword-frequency term produces many independent block rows across
  segments (the skew-sensitive global merge is the separate compaction
  operator in ``opensearch_spark/index/merge.py``).
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import time
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.analysis import smallfloat as sfl
from opensearch_spark.index import codec

ROW_POSTING = "p"
ROW_DOC = "d"
ROW_MANIFEST = "m"

_INTERNAL_FIELDS: List[Tuple[str, T.DataType]] = [
    ("_row", T.StringType()),
    ("_seg", T.IntegerType()),
    ("_docid", T.LongType()),
    ("term", T.StringType()),
    ("block_id", T.IntegerType()),
    ("base_doc", T.LongType()),
    ("last_doc", T.LongType()),
    ("n_docs", T.IntegerType()),
    ("sum_tf", T.LongType()),
    ("max_tf", T.IntegerType()),
    ("min_norm", T.IntegerType()),
    ("max_tf_norm", T.IntegerType()),
    ("docs_bin", T.BinaryType()),
    ("tfs_bin", T.BinaryType()),
    ("norms_bin", T.BinaryType()),
    ("pos_bin", T.BinaryType()),
    ("dl", T.IntegerType()),
    ("norm_byte", T.IntegerType()),
    ("m_n_docs", T.LongType()),
    ("m_sum_dl", T.LongType()),
    ("m_doc_count", T.LongType()),
    ("m_n_terms", T.LongType()),
    ("m_wall_ms", T.LongType()),
]
_INTERNAL_NAMES = [n for n, _ in _INTERNAL_FIELDS]

# pandas nullable dtypes for the internal columns (postings/doc rows leave
# each other's columns null; Arrow needs real nullable ints, not float NaN)
_PD_DTYPES = {
    "_seg": "Int32",
    "_docid": "Int64",
    "block_id": "Int32",
    "base_doc": "Int64",
    "last_doc": "Int64",
    "n_docs": "Int32",
    "sum_tf": "Int64",
    "max_tf": "Int32",
    "min_norm": "Int32",
    "max_tf_norm": "Int32",
    "dl": "Int32",
    "norm_byte": "Int32",
    "m_n_docs": "Int64",
    "m_sum_dl": "Int64",
    "m_doc_count": "Int64",
    "m_n_terms": "Int64",
    "m_wall_ms": "Int64",
}


@dataclasses.dataclass
class IndexConfig:
    """Build-time configuration, persisted to plan.json for query-time reuse."""

    n_segments: int = 32
    block_size: int = codec.BLOCK_SIZE
    stopwords: Optional[object] = None  # None | "_english_" | explicit list
    # custom analysis chain spec (name or dict, see analysis/chain.py);
    # None = the standard-analyzer fast path (AnalysisRegistry.java:683).
    # ``search_analyzer`` overrides query-side analysis (the reference's
    # per-field ``search_analyzer`` mapping setting, TextFieldMapper.java) —
    # e.g. index with edge_ngram, search with standard.
    analyzer: Optional[object] = None
    search_analyzer: Optional[object] = None
    id_cols: Sequence[str] = ("conv_id", "turn_idx")
    routing_col: Optional[str] = None  # default: id_cols[0]
    text_col: str = "text"
    store_positions: bool = True
    dictionary_partitions: int = 8
    # index sorting (``IndexSortConfig.java`` / ``index.sort.field``):
    # order docs WITHIN each segment by these keys — strings (asc) or
    # (field, "asc"|"desc") pairs — before docID assignment, so docmap
    # parquet row groups are clustered on the sort fields and range /
    # search_after keyset predicates prune whole row groups at scan
    # time (the reference's sort-optimized early termination, SURVEY
    # §4.5, QueryPhase.canEarlyTerminate).  id_cols always tie-break;
    # None keeps the default id_cols order.  Scoring, tie-breaks and
    # merge are docID-order-agnostic, so results are identical either
    # way (pinned by tests/test_builder.py).
    index_sort: Optional[Sequence] = None

    def sort_spec(self) -> List[Tuple[str, bool]]:
        """Normalized per-segment sort: [(col, ascending)], id tie-break."""
        keys: List[Tuple[str, bool]] = []
        for s in self.index_sort or []:
            if isinstance(s, str):
                keys.append((s, True))
            else:
                fld, direction = s
                keys.append((fld, str(direction).lower() != "desc"))
        for c in self.id_cols:
            if c not in [k for k, _ in keys]:
                keys.append((c, True))
        return keys

    def routing(self) -> str:
        return self.routing_col or self.id_cols[0]


def _paths(index_dir: str) -> Dict[str, str]:
    return {
        "data": os.path.join(index_dir, "data"),
        "postings": os.path.join(index_dir, "data", f"_row={ROW_POSTING}"),
        "docmap": os.path.join(index_dir, "data", f"_row={ROW_DOC}"),
        "dictionary": os.path.join(index_dir, "dictionary"),
        "manifests": os.path.join(index_dir, "manifests"),
        "plan": os.path.join(index_dir, "plan.json"),
        "stats": os.path.join(index_dir, "stats.json"),
    }


def resolve_analyze_fn(cfg: "IndexConfig"):
    """Resolve the build-time analysis callable ``text -> (tokens, poss)``.

    The default config keeps the single-pass standard-analyzer fast path;
    a configured chain spec goes through analysis/chain.py (the two are
    pinned identical for the standard chain by tests/test_analysis_chain.py).
    """
    if cfg.analyzer is None:
        stop = ana.resolve_stopwords(cfg.stopwords)
        return lambda t: ana.tokenize_with_positions(t, stop)
    from opensearch_spark.analysis import chain

    return chain.Analyzer.from_spec(cfg.analyzer)


def _invert_segment(
    pdf: pd.DataFrame,
    cfg: IndexConfig,
    offsets: Dict[int, int],
    analyze_fn,
    orig_cols: List[str],
    out_cols: List[str],
) -> pd.DataFrame:
    t0 = time.monotonic()
    seg = int(pdf["_seg"].iloc[0])
    sort_keys = cfg.sort_spec()
    pdf = pdf.sort_values(
        [k for k, _ in sort_keys],
        ascending=[a for _, a in sort_keys],
        kind="mergesort",
        ignore_index=True,
    )
    n = len(pdf)
    doc_ids = np.int64(offsets[seg]) + np.arange(n, dtype=np.int64)

    toks_pos = [analyze_fn(t) for t in pdf[cfg.text_col].tolist()]
    dl = np.fromiter((len(tp[0]) for tp in toks_pos), dtype=np.int64, count=n)
    norm_bytes = sfl.int_to_byte4(dl)

    frames: List[pd.DataFrame] = []

    # ---- docmap rows (the stored-fields/_source analog) ----
    dm = pdf[orig_cols].copy()
    dm["_row"] = ROW_DOC
    dm["_seg"] = seg
    dm["_docid"] = doc_ids
    dm["dl"] = dl.astype(np.int32)
    dm["norm_byte"] = norm_bytes.astype(np.int32)
    frames.append(dm)

    # ---- postings blocks ----
    total = int(dl.sum())
    n_terms_seg = 0
    if total > 0:
        flat_terms = np.empty(total, dtype=object)
        flat_pos = np.empty(total, dtype=np.int64)
        o = 0
        for toks, poss in toks_pos:
            k = len(toks)
            if k:
                flat_terms[o : o + k] = toks
                flat_pos[o : o + k] = poss
                o += k
        flat_docs = np.repeat(doc_ids, dl)
        flat_norms = np.repeat(norm_bytes, dl)

        # lexicographic stable sort by term WITHOUT an object-dtype
        # argsort (Python string compares dominate): hash-factorize the
        # terms (C speed), order only the small unique vocabulary
        # lexicographically, then argsort the int ranks — identical
        # permutation (stable ties keep doc/pos order per term),
        # measured ~8x faster on transcript segments
        codes, uniques = pd.factorize(flat_terms, sort=False)
        rank = np.empty(len(uniques), dtype=np.int64)
        rank[np.argsort(uniques, kind="stable")] = np.arange(len(uniques))
        order = np.argsort(rank[codes], kind="stable")
        s_terms = flat_terms[order]
        s_docs = flat_docs[order]
        s_pos = flat_pos[order]
        s_norms = flat_norms[order]

        term_change = np.empty(total, dtype=bool)
        term_change[0] = True
        term_change[1:] = s_terms[1:] != s_terms[:-1]
        doc_change = term_change.copy()
        doc_change[1:] |= s_docs[1:] != s_docs[:-1]
        doc_starts = np.nonzero(doc_change)[0]
        nd = doc_starts.size
        tf = np.diff(np.append(doc_starts, total))
        d_terms = s_terms[doc_starts]
        d_docs = s_docs[doc_starts]
        d_norms = s_norms[doc_starts]
        d_term_change = term_change[doc_starts]
        n_terms_seg = int(d_term_change.sum())

        term_start_idx = np.nonzero(d_term_change)[0]
        term_id = np.cumsum(d_term_change) - 1
        ordinal = np.arange(nd, dtype=np.int64) - term_start_idx[term_id]
        block_start_mask = d_term_change | (ordinal % cfg.block_size == 0)
        block_starts = np.nonzero(block_start_mask)[0]
        block_ends = np.append(block_starts[1:], nd)
        nblocks = block_starts.size

        gaps = np.diff(d_docs, prepend=np.int64(0))
        gaps[block_starts] = 0  # first doc of a block is delta-0 vs base_doc
        norms_all = d_norms.astype(np.uint8).tobytes()

        if cfg.store_positions:
            pos_deltas = np.diff(s_pos, prepend=np.int64(0))
            pos_deltas[doc_starts] = s_pos[doc_starts]
            post_starts = np.append(doc_starts, total)

        max_tf = np.maximum.reduceat(tf, block_starts)
        min_norm = np.minimum.reduceat(d_norms, block_starts)
        sum_tf = np.add.reduceat(tf, block_starts)
        # norm byte of a doc ATTAINING max_tf (smallest norm among them):
        # score(max_tf, dl(max_tf_norm)) is an ACHIEVABLE per-block score
        # — the metadata-only WAND threshold (query/wand.py) needs a
        # lower bound on some real doc's score, which (max_tf, min_norm)
        # cannot give (they may belong to different docs)
        blk_idx = np.cumsum(block_start_mask) - 1
        cand_norm = np.where(tf == max_tf[blk_idx], d_norms, np.int64(255))
        max_tf_norm = np.minimum.reduceat(cand_norm, block_starts)

        post = pd.DataFrame(
            {
                "_row": ROW_POSTING,
                "_seg": seg,
                "term": d_terms[block_starts],
                "block_id": (ordinal[block_starts] // cfg.block_size).astype(np.int32),
                "base_doc": d_docs[block_starts],
                "last_doc": d_docs[block_ends - 1],
                "n_docs": (block_ends - block_starts).astype(np.int32),
                "sum_tf": sum_tf.astype(np.int64),
                "max_tf": max_tf.astype(np.int32),
                "min_norm": min_norm.astype(np.int32),
                "max_tf_norm": max_tf_norm.astype(np.int32),
                "docs_bin": codec.encode_blocks(gaps, block_starts, block_ends),
                "tfs_bin": codec.encode_blocks(tf, block_starts, block_ends),
                "norms_bin": [
                    norms_all[s:e] for s, e in zip(block_starts, block_ends)
                ],
            }
        )
        if cfg.store_positions:
            post["pos_bin"] = codec.encode_blocks(
                pos_deltas,
                post_starts[block_starts],
                post_starts[block_ends],
            )
        frames.append(post)

    # ---- manifest row (per-segment lineage + metrics) ----
    frames.append(
        pd.DataFrame(
            {
                "_row": [ROW_MANIFEST],
                "_seg": [seg],
                "m_n_docs": [n],
                "m_sum_dl": [int(dl.sum())],
                "m_doc_count": [int((dl > 0).sum())],
                "m_n_terms": [n_terms_seg],
                "m_wall_ms": [int((time.monotonic() - t0) * 1000)],
            }
        )
    )

    out = pd.concat(frames, ignore_index=True).reindex(columns=out_cols)
    for col, dt in _PD_DTYPES.items():
        out[col] = out[col].astype(dt)
    # object-dtype doc columns (struct/array fields from a typed JSON
    # mapping) must carry real None where the posting/manifest rows left
    # them absent: concat fills the gaps with float NaN, and Arrow's
    # struct converter can't iterate a NaN
    for col in out.columns:
        if out[col].dtype == object:
            out[col] = out[col].where(out[col].notna(), None)
    return out


def _route_expr(cfg: IndexConfig) -> F.Column:
    """Deterministic doc->segment routing (murmur3-style hash mod n_segments)."""
    return F.pmod(F.xxhash64(F.col(cfg.routing())), F.lit(cfg.n_segments)).cast("int")


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: Optional[IndexConfig] = None,
    waves: int = 1,
    resume: bool = True,
) -> Dict:
    """Build (or resume building) the index for ``docs`` under ``index_dir``.

    Returns the final stats dict (n_docs, doc_count, sum_dl, avgdl,
    build metrics).  With ``waves > 1`` the segments are processed in
    ``waves`` separate Spark jobs; a killed run resumes from the last
    committed wave (per-segment manifests record what is done).
    """
    cfg = cfg or IndexConfig()
    p = _paths(index_dir)
    os.makedirs(p["manifests"], exist_ok=True)
    analyze_fn = resolve_analyze_fn(cfg)

    orig_cols = [c for c in docs.columns]
    clash = set(orig_cols) & set(_INTERNAL_NAMES)
    if clash:
        raise ValueError(f"input columns clash with internal names: {clash}")
    missing_sort = [c for c, _ in cfg.sort_spec() if c not in orig_cols]
    if missing_sort:
        # fail fast on the driver, not minutes later as an executor-side
        # KeyError inside the inversion UDF
        raise ValueError(
            f"index_sort/id columns not in input schema: {missing_sort}"
        )

    out_fields = list(_INTERNAL_FIELDS) + [
        (f.name, f.dataType) for f in docs.schema.fields
    ]
    out_schema = T.StructType(
        [T.StructField(nm, dt, True) for nm, dt in out_fields]
    )
    out_cols = [nm for nm, _ in out_fields]

    routed = docs.withColumn("_seg", _route_expr(cfg))

    # segment counts -> dense docID offsets (cheap: scans only routing col)
    counts_rows = (
        routed.groupBy("_seg").count().collect()
    )
    seg_counts = {int(r["_seg"]): int(r["count"]) for r in counts_rows}
    offsets: Dict[int, int] = {}
    acc = 0
    for seg in range(cfg.n_segments):
        offsets[seg] = acc
        acc += seg_counts.get(seg, 0)
    n_docs_total = acc

    plan = {
        "version": 1,
        "n_segments": cfg.n_segments,
        "block_size": cfg.block_size,
        "codec": "varint",
        "stopwords": cfg.stopwords,
        "analyzer": cfg.analyzer,
        "search_analyzer": cfg.search_analyzer,
        "id_cols": list(cfg.id_cols),
        "routing_col": cfg.routing(),
        "text_col": cfg.text_col,
        "store_positions": cfg.store_positions,
        "dictionary_partitions": cfg.dictionary_partitions,
        "n_docs": n_docs_total,
        "seg_offsets": {str(k): v for k, v in offsets.items()},
        "input_fields": orig_cols,
        "index_sort": [[c, "asc" if a else "desc"] for c, a in cfg.sort_spec()]
        if cfg.index_sort
        else None,
    }
    if resume and os.path.exists(p["plan"]):
        # a resumed build keeps already-committed segments: refusing a
        # changed index_sort prevents a mixed-order index whose plan
        # claims uniform clustering
        with open(p["plan"]) as f:
            prior_sort = json.load(f).get("index_sort")
        if prior_sort != plan["index_sort"]:
            raise ValueError(
                f"index_sort changed across resume ({prior_sort!r} -> "
                f"{plan['index_sort']!r}); rebuild with resume=False"
            )
    with open(p["plan"], "w") as f:
        json.dump(plan, f, indent=1)

    if resume:
        _recover_manifests(spark, p, offsets)
    done = _done_segments(p["manifests"]) if resume else set()
    todo = [s for s in range(cfg.n_segments) if seg_counts.get(s, 0) and s not in done]

    t_build0 = time.monotonic()
    per_wave = max(1, math.ceil(len(todo) / max(1, waves)))
    for w in range(0, len(todo), per_wave):
        wave_segs = todo[w : w + per_wave]
        wave_df = routed.filter(F.col("_seg").isin(wave_segs))
        # explicit repartition pins one exchange with exactly n partitions;
        # the groupBy below reuses it (ClusteredDistribution on _seg is
        # already satisfied), so AQE cannot size-coalesce the inversion
        # stage — its cost is Python compute, invisible to AQE's byte
        # heuristics, and coalescing would serialize the build
        wave_df = wave_df.repartition(len(wave_segs), "_seg")
        built = wave_df.groupBy("_seg").applyInPandas(
            lambda pdf: _invert_segment(pdf, cfg, offsets, analyze_fn, orig_cols, out_cols),
            schema=out_schema,
        )
        built.write.partitionBy("_row").mode("append").parquet(p["data"])
        # wave committed -> persist per-segment manifests (resume checkpoint);
        # read only the tiny _row=m partition directory, not the dataset
        man = (
            spark.read.parquet(os.path.join(p["data"], f"_row={ROW_MANIFEST}"))
            .filter(F.col("_seg").isin(wave_segs))
            .select("_seg", "m_n_docs", "m_sum_dl", "m_doc_count", "m_n_terms", "m_wall_ms")
            .collect()
        )
        for r in man:
            with open(
                os.path.join(p["manifests"], f"seg-{int(r['_seg']):05d}.json"), "w"
            ) as f:
                json.dump(
                    {
                        "segment": int(r["_seg"]),
                        "status": "done",
                        "rows_in": int(r["m_n_docs"]),
                        "sum_dl": int(r["m_sum_dl"]),
                        "doc_count": int(r["m_doc_count"]),
                        "terms_out": int(r["m_n_terms"]),
                        "wall_ms": int(r["m_wall_ms"]),
                        "doc_offset": offsets[int(r["_seg"])],
                    },
                    f,
                )
    build_wall = time.monotonic() - t_build0

    # ---- finalize: global dictionary + corpus stats ----
    # read through the unified dataset rather than the _row=p subdir:
    # a corpus whose text field is entirely empty/absent (keyword-only
    # docs) emits no posting rows at all, so the partition directory
    # does not exist — the filtered read degrades to zero rows with
    # the correct schema instead of PATH_NOT_FOUND
    if os.path.exists(p["postings"]):
        postings = spark.read.parquet(p["postings"])
    else:
        postings = (
            spark.read.parquet(p["data"])
            .filter(F.col("_row") == ROW_POSTING)
            .drop("_row")
        )
    (
        postings.groupBy("term")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("total_tf"),
            F.count(F.lit(1)).cast("int").alias("n_blocks"),
        )
        # materialized term length: fuzzy expansion's |len(term)-len(q)|
        # <= d band becomes a pushable int comparison with parquet
        # row-group min/max stats — the cheap analog of Lucene's
        # Levenshtein-automaton dictionary walk (FuzzyTermsEnum)
        .withColumn("tlen", F.length("term").cast("int"))
        .repartitionByRange(cfg.dictionary_partitions, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(p["dictionary"])
    )

    sum_dl = 0
    doc_count = 0
    for fn in os.listdir(p["manifests"]):
        with open(os.path.join(p["manifests"], fn)) as f:
            m = json.load(f)
        sum_dl += m["sum_dl"]
        doc_count += m["doc_count"]
    stats = {
        "n_docs": n_docs_total,
        "doc_count": doc_count,  # docs with >=1 indexed token (Lucene docCount)
        "sum_dl": sum_dl,  # sumTotalTermFreq of the text field
        "avgdl": (sum_dl / doc_count) if doc_count else 0.0,
        "build_wall_sec": build_wall,
        "turns_per_sec": (n_docs_total / build_wall) if build_wall > 0 else None,
    }
    with open(p["stats"], "w") as f:
        json.dump(stats, f, indent=1)
    return stats


def _recover_manifests(spark: SparkSession, p: Dict[str, str], offsets: Dict[int, int]) -> None:
    """Close the crash window between wave data-commit and manifest writes:
    any segment whose manifest ROW is committed in the data but whose
    manifest JSON is missing gets its JSON regenerated (the m-row commits
    atomically with the wave, so its presence proves the segment's data is
    complete).  Without this, a resume would re-append the segment and
    duplicate postings."""
    mdir = os.path.join(p["data"], f"_row={ROW_MANIFEST}")
    if not os.path.isdir(mdir):
        return
    have = _done_segments(p["manifests"])
    rows = (
        spark.read.parquet(mdir)
        .select("_seg", "m_n_docs", "m_sum_dl", "m_doc_count", "m_n_terms", "m_wall_ms")
        .collect()
    )
    for r in rows:
        seg = int(r["_seg"])
        if seg in have:
            continue
        with open(os.path.join(p["manifests"], f"seg-{seg:05d}.json"), "w") as f:
            json.dump(
                {
                    "segment": seg,
                    "status": "done",
                    "rows_in": int(r["m_n_docs"]),
                    "sum_dl": int(r["m_sum_dl"]),
                    "doc_count": int(r["m_doc_count"]),
                    "terms_out": int(r["m_n_terms"]),
                    "wall_ms": int(r["m_wall_ms"]),
                    "doc_offset": offsets.get(seg, 0),
                    "recovered": True,
                },
                f,
            )


def _done_segments(manifest_dir: str) -> set:
    done = set()
    if not os.path.isdir(manifest_dir):
        return done
    for fn in os.listdir(manifest_dir):
        if fn.startswith("seg-") and fn.endswith(".json"):
            try:
                with open(os.path.join(manifest_dir, fn)) as f:
                    m = json.load(f)
                if m.get("status") == "done":
                    done.add(int(m["segment"]))
            except (ValueError, OSError, KeyError):
                continue
    return done
