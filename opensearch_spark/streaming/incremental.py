"""Incremental index build over Structured Streaming.

The reference makes newly indexed docs searchable on ``refresh``
(default 1s) by flushing in-memory segments — micro-batch semantics
(``InternalEngine.refresh``; SURVEY.md §2.10).  Here each micro-batch
is one "flush": ``foreachBatch`` runs the SAME per-segment inversion as
the batch builder and appends new segments to the index; the streaming
checkpoint plus an idempotency manifest per batch give exactly-once
appends (the translog-checkpoint analog, ``Translog.java:98-224``).

Dictionary handling at scale: recomputing the global dictionary per
batch would be O(index) — instead each batch appends per-batch
dictionary DELTAS and the reader aggregates on read
(``plan.incremental = true``); a periodic ``merge_index`` compaction
collapses segments and deltas back to the dense layout.
"""

from __future__ import annotations

import json
import os
import time
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.index.builder import (
    IndexConfig,
    ROW_MANIFEST,
    _INTERNAL_FIELDS,
    _invert_segment,
    _paths,
    resolve_analyze_fn,
    _route_expr,
)


def init_index_dir(spark: SparkSession, index_dir: str, cfg: IndexConfig, schema: T.StructType) -> None:
    """Create an empty incremental index (plan + zeroed stats)."""
    p = _paths(index_dir)
    os.makedirs(p["manifests"], exist_ok=True)
    plan = {
        "version": 1,
        "incremental": True,
        "n_segments": cfg.n_segments,
        "block_size": cfg.block_size,
        "codec": "varint",
        "stopwords": cfg.stopwords,
        "id_cols": list(cfg.id_cols),
        "routing_col": cfg.routing(),
        "text_col": cfg.text_col,
        "store_positions": cfg.store_positions,
        "n_docs": 0,
        "input_fields": [f.name for f in schema.fields],
        "index_sort": [[c, "asc" if a else "desc"] for c, a in cfg.sort_spec()]
        if cfg.index_sort
        else None,
    }
    with open(p["plan"], "w") as f:
        json.dump(plan, f, indent=1)
    with open(p["stats"], "w") as f:
        json.dump({"n_docs": 0, "doc_count": 0, "sum_dl": 0, "avgdl": 0.0}, f)


def _apply_batch_stats(p: Dict[str, str], bman: str) -> None:
    """Fold one committed batch manifest into stats.json, exactly once
    (``batches_applied`` records which deltas are already in) — closes
    the crash window between manifest write and stats update."""
    with open(bman) as f:
        m = json.load(f)
    bid = int(m["batch"])
    with open(p["stats"]) as f:
        stats = json.load(f)
    applied = set(stats.get("batches_applied", []))
    if bid in applied or m.get("status") == "empty":
        return
    stats["n_docs"] = max(
        int(stats["n_docs"]), int(m["doc_offset"]) + int(m["n_docs"])
    )
    stats["doc_count"] = int(stats["doc_count"]) + int(m.get("doc_count", 0))
    stats["sum_dl"] = int(stats["sum_dl"]) + int(m.get("sum_dl", 0))
    stats["avgdl"] = (
        stats["sum_dl"] / stats["doc_count"] if stats["doc_count"] else 0.0
    )
    stats["batches_applied"] = sorted(applied | {bid})
    with open(p["stats"], "w") as f:
        json.dump(stats, f, indent=1)


def _intent_path(p: Dict[str, str], batch_id: int) -> str:
    return os.path.join(p["manifests"], f"batch-{int(batch_id):010d}-intent.json")


class PartialBatchError(RuntimeError):
    """A crashed batch left a PARTIAL data commit (committer v1 renames
    files sequentially, so a crash mid job-commit can materialize a
    subset of the batch's segment files).  Auto-recovery would silently
    drop the missing segments from stats and future queries, so the
    append refuses and surfaces the damage for manual repair
    (delete the batch's ``_seg`` range and the intent file, or
    compact)."""


def _recover_batch(
    spark: SparkSession, p: Dict[str, str], cfg: IndexConfig, batch_id: int, bman: str
) -> Optional[Dict]:
    """Crash-window probe (the per-batch analog of the builder's
    ``_recover_manifests``): if the batch's ``_row=m`` rows are committed
    in the data but the batch manifest JSON is missing, the data append
    succeeded — regenerate the manifest (and the dictionary delta if it
    too is missing) instead of re-appending, which would double df/tf.

    "Succeeded" is judged against the batch's INTENT sentinel (written
    before the data write, recording the expected segment set): with
    committer v1's sequential per-file rename a crash mid-commit can
    leave a partial subset of the segment files, so an observed
    ``_row=m`` segment set smaller than the intent raises
    :class:`PartialBatchError` instead of auto-recovering over the
    missing segments.  Returns the recovered result dict, or None when
    nothing was committed."""
    # this probe (one filtered metadata read per FRESH batch) is the
    # price of exactly-once: it is the only way to distinguish "new
    # batch" from "crashed after the data commit"
    seg_base = (int(batch_id) + 1) * cfg.n_segments
    in_range = (F.col("_seg") >= seg_base) & (F.col("_seg") < seg_base + cfg.n_segments)
    intent = None
    ipath = _intent_path(p, batch_id)
    if os.path.exists(ipath):
        with open(ipath) as f:
            intent = json.load(f)
    mdir = os.path.join(p["data"], f"_row={ROW_MANIFEST}")
    man = []
    if os.path.isdir(mdir):
        man = (
            spark.read.parquet(mdir)
            .filter(in_range)
            .select("_seg", "m_n_docs", "m_sum_dl", "m_doc_count")
            .collect()
        )
    if intent is not None:
        expected = set(int(s) for s in intent["segments"])
        observed = set(int(r["_seg"]) for r in man)
        if not man:
            # crash before the manifest partition committed — but data
            # partitions may still hold a partial subset (rename order
            # across partitions is not guaranteed); probe before
            # declaring the batch clean for re-append
            ddir = os.path.join(p["data"], "_row=d")
            partial = (
                os.path.isdir(ddir)
                and spark.read.parquet(ddir).filter(in_range).limit(1).count() > 0
            )
            if partial:
                raise PartialBatchError(
                    f"batch {batch_id}: data rows committed without manifest "
                    f"rows (crash mid job-commit); manual repair required "
                    f"(drop _seg in [{seg_base}, {seg_base + cfg.n_segments}) "
                    f"and {ipath})"
                )
            return None  # nothing committed: safe to (re-)append
        if observed != expected:
            raise PartialBatchError(
                f"batch {batch_id}: observed segment set {sorted(observed)} "
                f"!= intended {sorted(expected)} (partial commit); refusing "
                f"auto-recovery — repair or compact, then remove {ipath}"
            )
    elif not man:
        return None
    # dictionary delta idempotency: deltas are tagged with _batch
    dict_has_batch = False
    if os.path.isdir(p["dictionary"]):
        try:
            # mergeSchema: a build_index-origin base dictionary has no
            # _batch column — without merging, footer-sampling could
            # hide the delta tags and re-append a committed delta
            d = spark.read.option("mergeSchema", "true").parquet(p["dictionary"])
            if "_batch" in d.columns:
                dict_has_batch = (
                    d.filter(F.col("_batch") == int(batch_id)).limit(1).count() > 0
                )
        except Exception:
            dict_has_batch = False
    if not dict_has_batch:
        _write_dict_delta(spark, p, cfg, batch_id)
    dm = (
        spark.read.parquet(os.path.join(p["data"], "_row=d"))
        .filter((F.col("_seg") >= seg_base) & (F.col("_seg") < seg_base + cfg.n_segments))
        .agg(F.count(F.lit(1)).alias("n"), F.min("_docid").alias("off"))
        .collect()[0]
    )
    n_new = int(dm["n"])
    with open(bman, "w") as f:
        json.dump(
            {
                "batch": int(batch_id),
                "n_docs": n_new,
                "doc_offset": int(dm["off"]) if n_new else 0,
                "segments": sorted(int(r["_seg"]) for r in man),
                "sum_dl": sum(int(r["m_sum_dl"]) for r in man),
                "doc_count": sum(int(r["m_doc_count"]) for r in man),
                "status": "done",
                "recovered": True,
            },
            f,
        )
    _apply_batch_stats(p, bman)
    return {"n_docs": n_new, "recovered": True}


def _write_dict_delta(
    spark: SparkSession, p: Dict[str, str], cfg: IndexConfig, batch_id: int
) -> None:
    seg_base = (int(batch_id) + 1) * cfg.n_segments
    batch_posts = (
        spark.read.parquet(os.path.join(p["data"], "_row=p"))
        .filter(F.col("_seg") >= seg_base)
        .filter(F.col("_seg") < seg_base + cfg.n_segments)
    )
    (
        batch_posts.groupBy("term")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("total_tf"),
            F.count(F.lit(1)).cast("int").alias("n_blocks"),
        )
        .withColumn("_batch", F.lit(int(batch_id)))
        .write.mode("append")
        .parquet(p["dictionary"])
    )


def append_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig,
    batch_id: int,
) -> Optional[Dict]:
    """Idempotently append one micro-batch as new segments.

    Re-delivered batches (streaming retries) are detected by the batch
    manifest and skipped; a crash between the data commit and the
    manifest write is closed by ``_recover_batch``, so the append is
    exactly-once."""
    p = _paths(index_dir)
    bman = os.path.join(p["manifests"], f"batch-{batch_id:010d}.json")
    if os.path.exists(bman):
        _apply_batch_stats(p, bman)  # close the manifest->stats window
        return None  # replay after failure: already committed
    recovered = _recover_batch(spark, p, cfg, batch_id, bman)
    if recovered is not None:
        return recovered
    # fold in any earlier batches whose stats delta is still pending so
    # the docID high-water mark below is correct; steady state touches
    # nothing (applied ids are checked against stats.json ONCE, not per
    # manifest file)
    with open(p["stats"]) as f:
        _applied = set(json.load(f).get("batches_applied", []))
    for fn in sorted(os.listdir(p["manifests"])):
        if fn.startswith("batch-") and fn.endswith(".json"):
            try:
                bid = int(fn[len("batch-"):-len(".json")])
            except ValueError:
                continue
            if bid not in _applied:
                _apply_batch_stats(p, os.path.join(p["manifests"], fn))
    with open(p["plan"]) as f:
        plan = json.load(f)
    cfg_sort = (
        [[c, "asc" if a else "desc"] for c, a in cfg.sort_spec()]
        if cfg.index_sort
        else None
    )
    if plan.get("index_sort") != cfg_sort:
        # appended segments must keep the index's physical order — a
        # mixed-order index would contradict plan.json (same contract
        # as build_index's resume guard)
        raise ValueError(
            f"index_sort mismatch: index has {plan.get('index_sort')!r}, "
            f"append cfg has {cfg_sort!r}"
        )
    if not plan.get("incremental"):
        # appending to a build_index-origin index: the per-batch
        # dictionary deltas written below are only folded into term
        # statistics by readers when the plan is marked incremental
        # (InvertedIndex.dictionary aggregates df/total_tf across base
        # rows + deltas).  Without this flip, term_stats would keep
        # serving the pre-append df — stale IDF after _update/upsert.
        plan["incremental"] = True
        with open(p["plan"], "w") as f:
            json.dump(plan, f, indent=1)
    with open(p["stats"]) as f:
        stats = json.load(f)
    hw = int(stats["n_docs"])  # docID high-water mark
    analyze_fn = resolve_analyze_fn(cfg)

    orig_cols = list(batch_df.columns)
    out_fields = list(_INTERNAL_FIELDS) + [
        (f.name, f.dataType) for f in batch_df.schema.fields
    ]
    out_schema = T.StructType([T.StructField(n, d, True) for n, d in out_fields])
    out_cols = [n for n, _ in out_fields]

    seg_base = (int(batch_id) + 1) * cfg.n_segments  # distinct from batch-0 ids
    routed = batch_df.withColumn(
        "_seg", (_route_expr(cfg) + F.lit(seg_base)).cast("int")
    )
    counts = {
        int(r["_seg"]): int(r["count"])
        for r in routed.groupBy("_seg").count().collect()
    }
    offsets: Dict[int, int] = {}
    acc = hw
    for seg in sorted(counts):
        offsets[seg] = acc
        acc += counts[seg]
    n_new = acc - hw
    if n_new == 0:
        with open(bman, "w") as f:
            json.dump({"batch": batch_id, "n_docs": 0, "status": "empty"}, f)
        return {"n_docs": 0}

    # intent sentinel BEFORE the data write: records the expected
    # segment set so _recover_batch can tell a complete commit from a
    # partial one (committer v1 renames sequentially; see
    # PartialBatchError)
    with open(_intent_path(p, batch_id), "w") as f:
        json.dump({"batch": int(batch_id), "segments": sorted(counts)}, f)

    t0 = time.monotonic()
    routed = routed.repartition(max(1, len(counts)), "_seg")
    built = routed.groupBy("_seg").applyInPandas(
        lambda pdf: _invert_segment(pdf, cfg, offsets, analyze_fn, orig_cols, out_cols),
        schema=out_schema,
    )
    built.write.partitionBy("_row").mode("append").parquet(p["data"])

    # per-batch dictionary delta, tagged with _batch for idempotent
    # recovery (reader aggregates; merge compacts)
    _write_dict_delta(spark, p, cfg, batch_id)

    man_rows = (
        spark.read.parquet(os.path.join(p["data"], f"_row={ROW_MANIFEST}"))
        .filter(F.col("_seg").isin(list(counts)))
        .select("m_n_docs", "m_sum_dl", "m_doc_count")
        .collect()
    )
    sum_dl = sum(int(r["m_sum_dl"]) for r in man_rows)
    doc_count = sum(int(r["m_doc_count"]) for r in man_rows)

    # commit order: manifest (with the stats delta inside) BEFORE the
    # stats fold — _apply_batch_stats is idempotent via batches_applied,
    # so every crash point replays to the same state
    with open(bman, "w") as f:
        json.dump(
            {
                "batch": int(batch_id),
                "n_docs": n_new,
                "doc_offset": hw,
                "segments": sorted(counts),
                "sum_dl": sum_dl,
                "doc_count": doc_count,
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "status": "done",
            },
            f,
        )
    _apply_batch_stats(p, bman)
    return {"n_docs": n_new}


def start_incremental_index(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the streaming index build.  ``stream_df`` is any streaming
    DataFrame with the transcript schema; returns the StreamingQuery.

    With ``available_now`` the query drains all currently available
    input and stops — the batch-ingest pattern; without it, it runs
    continuously (the 1s-refresh analog)."""
    if not os.path.exists(_paths(index_dir)["plan"]):
        init_index_dir(spark, index_dir, cfg, stream_df.schema)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, batch_df, index_dir, cfg, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
