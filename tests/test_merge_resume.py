"""A10 merge, A11 resume, and build determinism across parallelism."""

from __future__ import annotations

import os
import shutil

import pytest

from localsearchengine_spark.build import build_index, resume
from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators.merge import merge_indexes
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import (
    golden_queries,
    make_transcripts,
    write_transcripts_parquet,
)

CONF = BuildConfig(num_partitions=6, hot_df_threshold=300, block_size=64)


def _split_and_write(pdf, tmp):
    """Prefix split by conversation → two segments with contiguous doc_id
    ranges (the second built at doc_id_base = len(a))."""
    convs = sorted(pdf["conv_id"].unique())
    a_set = set(convs[: len(convs) * 3 // 5])
    a = pdf[pdf["conv_id"].isin(a_set)].reset_index(drop=True)
    b = pdf[~pdf["conv_id"].isin(a_set)].reset_index(drop=True)
    pa_, pb_ = os.path.join(tmp, "a.parquet"), os.path.join(tmp, "b.parquet")
    write_transcripts_parquet(a, pa_)
    write_transcripts_parquet(b, pb_)
    return pa_, pb_, len(a), len(b)


def _query_all(index, queries):
    return {
        q["query_id"]: index.search(q["terms"], k=q["k"], mode="wand") for q in queries
    }


def test_merge_ordered_fast_path(spark, built_index, transcripts_small, tmp_path):
    """Prefix split ⇒ contiguous doc ranges ⇒ declarative merge; merged index
    must answer every golden query identically (bit-equal scores) to the
    single full build, because doc_ids line up with global conv order.
    Input order does not matter: segments are merged in doc_id order."""
    full_idx, _, pdf = built_index
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    build_index(spark, pa_, ia, CONF)
    build_index(spark, pb_, ib, CONF, doc_id_base=n_a)
    out = str(tmp_path / "merged")
    merge_indexes(spark, [ib, ia], out)
    queries = golden_queries()[::4]
    got = _query_all(Index(spark, out), queries)
    exp = _query_all(Index(spark, full_idx), queries)
    assert got == exp


def test_merge_rejects_overlapping_ranges(spark, built_index, tmp_path):
    """Inputs whose doc_id ranges overlap are refused with an error naming
    both, before anything is written to the output directory."""
    full_idx, _, _ = built_index
    bad = tmp_path / "bad"
    with pytest.raises(ValueError, match="overlap") as exc:
        merge_indexes(spark, [full_idx, full_idx], str(bad))
    assert str(exc.value).count(full_idx) == 2
    assert not (bad / "docs").exists()


def test_merge_config_compared_by_value(spark, built_index, transcripts_small, tmp_path):
    """A segment whose meta config carries a key this version does not
    know (e.g. a field since deleted) still merges with one written now."""
    import json

    from localsearchengine_spark.utils import atomic_write_json, read_json

    full_idx, _, pdf = built_index
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    build_index(spark, pa_, ia, CONF)
    build_index(spark, pb_, ib, CONF, doc_id_base=n_a)
    meta_p = os.path.join(ia, "meta.json")
    meta = read_json(meta_p)
    conf = json.loads(meta["config"])
    conf["retired_knob"] = 8
    meta["config"] = json.dumps(conf, sort_keys=True)
    atomic_write_json(meta_p, meta)
    out = str(tmp_path / "merged")
    meta = merge_indexes(spark, [ia, ib], out)
    assert BuildConfig.from_json(meta["config"]) == CONF
    queries = golden_queries()[::10]
    assert _query_all(Index(spark, out), queries) == _query_all(
        Index(spark, full_idx), queries
    )


def test_resume_after_partial_failure(spark, transcripts_small, tmp_path):
    path, _ = transcripts_small
    clean = str(tmp_path / "clean")
    build_index(spark, path, clean, CONF)
    hurt = str(tmp_path / "hurt")
    shutil.copytree(clean, hurt)
    for pid in (1, 4):
        os.remove(os.path.join(hurt, "postings", f"part-{pid:05d}.parquet"))
        os.remove(os.path.join(hurt, "manifest", f"postings-{pid:05d}.json"))
    rep = resume(spark, path, hurt)
    assert rep.partitions_built == 2 and rep.partitions_skipped == 4
    queries = golden_queries()[::6]
    assert _query_all(Index(spark, hurt), queries) == _query_all(
        Index(spark, clean), queries
    )
    # idempotence: resuming a finished build is a no-op
    rep2 = resume(spark, path, hurt)
    assert rep2.partitions_built == 0


def test_build_determinism_across_parallelism(spark, transcripts_small, tmp_path):
    """SURVEY.md §5 determinism row: different shuffle parallelism ⇒ same
    dictionary and bit-identical query results (the design-carried guarantee
    Spark itself does not give)."""
    path, _ = transcripts_small
    i4 = str(tmp_path / "p4")
    i13 = str(tmp_path / "p13")
    build_index(spark, path, i4, BuildConfig(num_partitions=4, hot_df_threshold=300, block_size=64))
    build_index(spark, path, i13, BuildConfig(num_partitions=13, hot_df_threshold=300, block_size=64))
    d4 = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(i4, "dictionary")).collect()
    }
    d13 = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(i13, "dictionary")).collect()
    }
    assert d4 == d13
    queries = golden_queries()[::4]
    assert _query_all(Index(spark, i4), queries) == _query_all(Index(spark, i13), queries)


def test_merge_positional_segments(spark, transcripts_small, tmp_path):
    """Merge of POSITIONAL segments: the position streams ride through the
    declarative merge untouched, so the merged index answers phrase queries
    identically to a single full positional build."""
    path, pdf = transcripts_small
    pconf = BuildConfig(num_partitions=4, hot_df_threshold=300, block_size=64,
                        store_positions=True)
    full = str(tmp_path / "pfull")
    build_index(spark, path, full, pconf)
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "pia"), str(tmp_path / "pib")
    build_index(spark, pa_, ia, pconf)
    build_index(spark, pb_, ib, pconf, doc_id_base=n_a)
    out = str(tmp_path / "pmerged")
    merge_indexes(spark, [ia, ib], out)
    mi, fi = Index(spark, out), Index(spark, full)
    for q in ('"the small batch"', '"fast scan"', '"join order" -dup', "spark"):
        assert mi.search(q, k=15, mode="wand") == fi.search(q, k=15, mode="wand"), q


def test_reorder_positions_scrambled():
    """The position gather must be correct under a genuinely out-of-order
    permutation (the build's per-batch (term, salt) regrouping)."""
    import numpy as np

    from localsearchengine_spark.operators.postings import reorder_positions

    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 5, size=50).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
    flat = np.arange(int(tfs.sum()), dtype=np.int64)
    order = rng.permutation(50)
    got = reorder_positions(flat, starts, tfs, order)
    exp = np.concatenate([flat[starts[i]: starts[i] + tfs[i]] for i in order])
    assert (got == exp).all()


def test_merge_pre_positions_segments(spark, transcripts_small, tmp_path):
    """Version shim: segments written without the blocks[].pos_bytes field
    (pre-positions layout) must merge cleanly, not fail analysis."""
    from pyspark.sql import functions as F

    path, pdf = transcripts_small
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "via"), str(tmp_path / "vib")
    build_index(spark, pa_, ia, CONF)
    build_index(spark, pb_, ib, CONF, doc_id_base=n_a)
    # strip pos_bytes from one segment's postings, simulating an old index
    posts = spark.read.parquet(os.path.join(ia, "postings"))
    fields = [f for f in posts.schema["blocks"].dataType.elementType.fieldNames()
              if f != "pos_bytes"]
    stripped = posts.withColumn(
        "blocks",
        F.transform("blocks", lambda blk: F.struct(*[blk[f].alias(f) for f in fields])),
    )
    stripped.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "olddir"))
    import shutil as _sh
    _sh.rmtree(os.path.join(ia, "postings"))
    _sh.move(os.path.join(str(tmp_path), "olddir"), os.path.join(ia, "postings"))
    out = str(tmp_path / "vmerged")
    merge_indexes(spark, [ia, ib], out)
    queries = golden_queries()[::10]
    got = _query_all(Index(spark, out), queries)
    assert any(len(v) for v in got.values())


def test_distributed_dictionary_matches_driver(spark, built_index, tmp_path, monkeypatch):
    """write_dictionary's distributed branch (vocabularies too large for
    the driver) writes the same rows and column types as the driver-side
    branch, and the index answers the golden queries identically."""
    import pyarrow.dataset as ds

    from localsearchengine_spark.operators import postings

    full_idx, _, _ = built_index
    copy = str(tmp_path / "copy")
    shutil.copytree(full_idx, copy)
    monkeypatch.setattr(postings, "_DICT_DRIVER_MAX_ROWS", 0)
    postings.write_dictionary(
        spark, os.path.join(copy, "postings"), os.path.join(copy, "dictionary")
    )

    def dictionary(idx):
        tbl = ds.dataset(os.path.join(idx, "dictionary"), format="parquet").to_table()
        types = [(f.name, f.type) for f in tbl.schema]
        return types, sorted(tbl.to_pylist(), key=lambda r: r["term"])

    assert dictionary(copy) == dictionary(full_idx)
    for mode in ("and", "or"):
        queries = golden_queries()
        got = {q["query_id"]: Index(spark, copy).search(q["terms"], k=q["k"], mode=mode)
               for q in queries}
        exp = {q["query_id"]: Index(spark, full_idx).search(q["terms"], k=q["k"], mode=mode)
               for q in queries}
        assert got == exp
