"""A10 — distributed segment merge.

BASELINE.json:6: "distributed segment merge with per-partition lineage
checkpoints".  Merges k complete indexes (segments) whose doc_id ranges are
disjoint into one index.  Every index build in this package gives a segment a
dense doc_id range starting at its ``doc_id_base`` (incremental batches,
half-corpus builds), so after sorting the inputs by range, every term's
merged posting list is just its segment rows in (segment, salt) order —
blocks are self-contained (codec.py) and concatenate without re-encoding.

The merge is therefore a pure DataFrame job: union → renumber salt densely
per term by (segment, salt) → recompute block score bounds from
(max_tf, min_dl) under the merged corpus avgdl with a JVM `transform()`
expression.  Zero Python in the plan, zero decode, one shuffle-free write
(plus the dictionary groupBy).  Inputs whose doc_id ranges overlap are
refused before anything is written.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.utils import atomic_write_json, read_json


def _bound_expr(max_tf, min_dl, k1: float, b: float, avgdl: float):
    from localsearchengine_spark.functions.bm25 import tf_norm_column

    return tf_norm_column(max_tf, min_dl, F.lit(avgdl), k1, b)


def _with_pos_bytes(posts: DataFrame) -> DataFrame:
    """Version shim: indexes written before the positional-postings field
    lack ``blocks[].pos_bytes``; default it to empty so pre-positions
    segments merge cleanly instead of failing analysis on the missing
    field."""
    fields = posts.schema["blocks"].dataType.elementType.fieldNames()
    if "pos_bytes" in fields:
        return posts
    new_blocks = F.transform(
        F.col("blocks"),
        lambda blk: F.struct(
            *[blk[f].alias(f) for f in fields],
            F.lit(b"").alias("pos_bytes"),
        ),
    )
    return posts.withColumn("blocks", new_blocks)


def merge_indexes(spark: SparkSession, index_dirs: list[str], out_dir: str) -> dict:
    """Merge complete indexes at ``index_dirs`` into a new index at
    ``out_dir``.  Returns the merged meta dict.  Raises ``ValueError`` if
    two inputs' doc_id ranges overlap."""
    t0 = time.time()
    metas = [read_json(os.path.join(d, "meta.json")) for d in index_dirs]
    for m, d in zip(metas, index_dirs):
        if m.get("status") != "complete":
            raise RuntimeError(f"cannot merge incomplete index at {d}")
    # compared as values: keys a newer or older version wrote are dropped
    confs = {BuildConfig.from_json(m["config"]) for m in metas}
    if len(confs) != 1:
        raise RuntimeError("cannot merge indexes built with different configs")
    conf = confs.pop()
    cfg = conf.bm25

    # ---- merged corpus stats ------------------------------------------------
    n_docs = sum(int(m["n_docs"]) for m in metas)
    total_tokens = sum(int(m["total_tokens"]) for m in metas)
    avgdl = total_tokens / n_docs if n_docs else 0.0

    # ---- doc-range layout: segments in doc_id order, ranges disjoint --------
    ranges = []
    for d in index_dirs:
        r = (
            spark.read.parquet(os.path.join(d, "docs"))
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
                 F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        ranges.append((int(r["lo"]), int(r["hi"]), int(r["n"]), d))
    ranges.sort()
    total_n = sum(r[2] for r in ranges)
    if total_n != n_docs:
        raise RuntimeError("docs tables inconsistent with metas")
    for (lo_a, hi_a, _, a), (lo_b, hi_b, _, b) in zip(ranges, ranges[1:]):
        if hi_a >= lo_b:
            raise ValueError(
                f"doc_id ranges overlap: {a} has [{lo_a}, {hi_a}], "
                f"{b} has [{lo_b}, {hi_b}]"
            )
    seg_order = {r[3]: i for i, r in enumerate(ranges)}

    os.makedirs(out_dir, exist_ok=True)

    # ---- docs: union (doc_ids already globally unique) ----------------------
    docs = None
    for d in index_dirs:
        part = spark.read.parquet(os.path.join(d, "docs"))
        docs = part if docs is None else docs.unionByName(part)
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    # ---- postings -----------------------------------------------------------
    posts = None
    for d in index_dirs:
        raw = spark.read.parquet(os.path.join(d, "postings"))
        shimmed = "pos_bytes" not in raw.schema["blocks"].dataType.elementType.fieldNames()
        if shimmed and conf.store_positions:
            # a pre-positions segment cannot satisfy a positional config:
            # merged phrase queries would crash on its empty streams later
            raise RuntimeError(
                f"segment at {d} predates positional postings but the build "
                "config stores positions — rebuild it before merging"
            )
        part = _with_pos_bytes(raw).withColumn("seg", F.lit(seg_order[d]))
        posts = part if posts is None else posts.unionByName(part)

    merged = _merge_ordered(posts, cfg.k1, cfg.b, avgdl)
    merged.write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))

    # ---- dictionary (same shape + adaptive path as build.py) ----------------
    from localsearchengine_spark.operators.postings import write_dictionary

    write_dictionary(spark, os.path.join(out_dir, "postings"), os.path.join(out_dir, "dictionary"))

    meta = {
        "build_id": uuid.uuid4().hex[:12],
        "config": conf.to_json(),
        "snapshot": "+".join(m["snapshot"] for m in metas),
        "status": "complete",
        "source": "merge:" + ",".join(index_dirs),
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        "num_partitions": int(metas[0].get("num_partitions", 8)),
        "merged_from": len(index_dirs),
        "merge_elapsed_s": round(time.time() - t0, 3),
    }
    # A22 interplay: tombstones of the inputs carry into the merged index —
    # merging must never resurrect a deleted doc.  Stats stay the inputs'
    # as-built sums, consistent with tombstone semantics (compact() is the
    # pressure valve that folds deletes into the stats).
    import numpy as np

    from localsearchengine_spark.operators.delete import delete_docs, load_tombstones

    all_ts = np.unique(
        np.concatenate(
            [load_tombstones(d) for d in index_dirs] or [np.empty(0, dtype=np.int64)]
        )
    )
    if len(all_ts):
        delete_docs(out_dir, all_ts)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    atomic_write_json(os.path.join(out_dir, "manifest", "merge-complete.json"), meta)
    atomic_write_json(os.path.join(out_dir, "meta.json"), meta)
    return meta


def _merge_ordered(posts: DataFrame, k1: float, b: float, avgdl: float) -> DataFrame:
    """Declarative merge: per-term dense salt renumbering by (seg, salt) via
    a row_number window (rows per term are few — salts, not postings), which
    stays collision-free under repeated merges; block score bounds are
    recomputed JVM-side from (max_tf, min_dl) for the new avgdl."""
    from pyspark.sql import Window
    new_blocks = F.transform(
        F.col("blocks"),
        lambda blk: blk.withField(
            "tf_norm_max", _bound_expr(blk["max_tf"], blk["min_dl"], k1, b, avgdl)
        ),
    )
    w = Window.partitionBy("term").orderBy("seg", "salt")
    return posts.select(
        "term",
        (F.row_number().over(w) - 1).cast("int").alias("salt"),
        "df",
        "cf",
        F.array_max(F.transform(new_blocks, lambda blk: blk["tf_norm_max"])).alias(
            "max_tf_norm"
        ),
        F.size(new_blocks).cast("long").alias("n_blocks"),
        # merged files do not follow the hash(term,salt) layout; the sentinel
        # makes query-time partition pruning fall back to the full scan
        F.lit(-1).cast("int").alias("pid"),
        new_blocks.alias("blocks"),
    )
