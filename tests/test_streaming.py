"""Structured-Streaming incremental indexing (streaming/incremental.py)."""

from __future__ import annotations

import os

from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import (
    golden_queries,
    make_transcripts,
    write_transcripts_parquet,
)
from localsearchengine_spark.streaming.incremental import IncrementalIndexer
from localsearchengine_spark.config import BuildConfig


def test_incremental_stream_equals_full_build(spark, built_index, tmp_path):
    full_idx, _, pdf = built_index
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    convs = sorted(pdf["conv_id"].unique())
    # 3 micro-batches of whole conversations, in conv order (append contract)
    cuts = [0, len(convs) // 3, 2 * len(convs) // 3, len(convs)]
    for i in range(3):
        part = pdf[pdf["conv_id"].isin(set(convs[cuts[i]:cuts[i + 1]]))]
        write_transcripts_parquet(
            part.reset_index(drop=True), os.path.join(stream_dir, f"b{i}.parquet")
        )
    live = str(tmp_path / "live_index")
    ix = IncrementalIndexer(
        spark, live, str(tmp_path / "work"),
        BuildConfig(num_partitions=6, hot_df_threshold=300, block_size=64),
    )
    q = ix.start(stream_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    queries = golden_queries()[::5]
    got = {
        qd["query_id"]: Index(spark, live).search(qd["terms"], k=qd["k"], mode="wand")
        for qd in queries
    }
    exp = {
        qd["query_id"]: Index(spark, full_idx).search(qd["terms"], k=qd["k"], mode="wand")
        for qd in queries
    }
    assert got == exp


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch already folded
    into the live index must be a no-op (epoch ledger in meta.json)."""
    import numpy as np
    import pandas as pd

    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.streaming.incremental import IncrementalIndexer
    from localsearchengine_spark.utils import read_json

    def batch_df(seed, n):
        from localsearchengine_spark.sources.fixtures import make_transcripts
        return spark.createDataFrame(make_transcripts(n, seed=seed))

    ix = IncrementalIndexer(
        spark, str(tmp_path / "live"), str(tmp_path / "work"),
        BuildConfig(num_partitions=4, hot_df_threshold=10**9),
    )
    ix.process_batch(batch_df(1, 300), epoch_id=0)
    ix.process_batch(batch_df(2, 200), epoch_id=1)
    meta1 = read_json(str(tmp_path / "live" / "meta.json"))
    hits1 = Index(spark, str(tmp_path / "live")).search("spark join", 10, "or")
    # replay epoch 1 (same data): must change nothing
    ix.process_batch(batch_df(2, 200), epoch_id=1)
    meta2 = read_json(str(tmp_path / "live" / "meta.json"))
    assert meta2["n_docs"] == meta1["n_docs"] == 500
    assert meta2["applied_epochs"] == meta1["applied_epochs"]
    assert Index(spark, str(tmp_path / "live")).search("spark join", 10, "or") == hits1


def test_interrupted_swap_recovers(spark, tmp_path):
    """Crash between the two swap renames: live dir gone, .old present —
    the next batch must restore the previous index, not install the new
    micro-batch as the whole corpus."""
    import os
    import shutil

    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.sources.fixtures import make_transcripts
    from localsearchengine_spark.streaming.incremental import IncrementalIndexer
    from localsearchengine_spark.utils import read_json

    live = str(tmp_path / "live")
    ix = IncrementalIndexer(
        spark, live, str(tmp_path / "work"),
        BuildConfig(num_partitions=4, hot_df_threshold=10**9),
    )
    ix.process_batch(spark.createDataFrame(make_transcripts(300, seed=1)), epoch_id=0)
    # simulate the crash window: live renamed away, replacement not yet in
    os.rename(live, live + ".old")
    ix.process_batch(spark.createDataFrame(make_transcripts(100, seed=3)), epoch_id=1)
    meta = read_json(os.path.join(live, "meta.json"))
    assert meta["n_docs"] == 400  # 300 recovered + 100 appended, not 100


def test_append_after_compact_gets_fresh_doc_ids(spark, tmp_path):
    """compact() keeps doc_ids but lowers n_docs, so an append must start
    one past the live index's highest doc_id, not at its doc count: the
    append succeeds, doc_ids stay unique, and queries match the oracle."""
    import shutil

    import numpy as np

    from localsearchengine_spark.operators.delete import compact, delete_docs
    from tests.oracle import oracle_search

    live = str(tmp_path / "live")
    ix = IncrementalIndexer(
        spark, live, str(tmp_path / "work"),
        BuildConfig(num_partitions=4, hot_df_threshold=300, block_size=64),
    )
    ix.process_batch(spark.createDataFrame(make_transcripts(1000, seed=1)), epoch_id=0)
    delete_docs(live, [3, 10, 500])
    compacted = str(tmp_path / "compacted")
    assert compact(spark, live, compacted)["n_docs"] == 997
    shutil.rmtree(live)
    shutil.move(compacted, live)

    ix.process_batch(spark.createDataFrame(make_transcripts(200, seed=2)), epoch_id=1)
    docs = spark.read.parquet(os.path.join(live, "docs")).select("doc_id", "text").toPandas()
    ids = docs["doc_id"].to_numpy()
    assert len(ids) == 1197 and len(np.unique(ids)) == 1197
    assert not {3, 10, 500} & set(ids.tolist())
    assert ids.max() == 1199  # the batch took [1000, 1200)

    index = Index(spark, live)
    corpus = sorted(zip(ids.tolist(), docs["text"].tolist()))
    for q in golden_queries()[::3]:
        for mode in ("and", "or"):
            got = index.search(q["terms"], k=q["k"], mode=mode)
            exp = oracle_search(corpus, q["terms"], k=q["k"], mode=mode)
            assert [d for d, _ in got] == [d for d, _ in exp], (q["terms"], mode)
            np.testing.assert_allclose(
                [s for _, s in got], [s for _, s in exp], atol=1e-9, rtol=0
            )
