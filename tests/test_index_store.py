"""The generationed index store (operators/index_store.py): the shared
commit/watermark lifecycle the incremental DEDUP indexes adopted from the
ANN index — append/read round-trip, crash-replay fixpoints, compaction
audits, the monotone watermark, the append-refusal guard, and the
giant-partition salt split."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from batch_processing_iac_aws_spark.operators.index_store import (
    append_index,
    compact_index,
    layout_audit,
    read_index,
    read_table,
    salted_repartition,
    store_current,
    store_watermark,
)


def _digests(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string"
    ).select(F.sha2("text", 256).alias("content_hash"))


@pytest.fixture(params=["local", "object_store"])
def store_backend_impl(request):
    """Run a lifecycle test under BOTH first-class backends: the POSIX
    default (rename-based pointer flips, readdir listings) and the
    object-store fake (conditional-put commit protocol, prefix-existence
    is_dir, key-derived listings). The store functions must not be able
    to tell them apart — any lifecycle behavior that only holds under
    rename semantics is a bug the S3 port would inherit."""
    if request.param == "local":
        yield "local"
        return
    from batch_processing_iac_aws_spark.operators.index_store import (
        FakeObjectStoreBackend,
        set_store_backend,
    )

    prev = set_store_backend(FakeObjectStoreBackend())
    try:
        yield "object_store"
    finally:
        set_store_backend(prev)


def test_append_read_roundtrip_and_batch_partitions(
    spark, tmp_path, store_backend_impl
):
    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a"), (2, "b")]), idx, batch_id=0)
    append_index(_digests(spark, [(3, "c")]), idx, batch_id=1)
    got = read_index(spark, idx)
    assert got.count() == 3
    assert sorted(
        r["batch_seq"] for r in got.select("batch_seq").distinct().collect()
    ) == [0, 1]
    # dynamic overwrite: replaying batch 1 with different content rewrites
    # exactly its own partition
    append_index(_digests(spark, [(4, "d"), (5, "e")]), idx, batch_id=1)
    got = read_index(spark, idx)
    assert got.count() == 4
    assert got.where(F.col("batch_seq") == 1).count() == 2


def test_read_before_any_commit_is_loud(spark, tmp_path, store_backend_impl):
    with pytest.raises(FileNotFoundError):
        read_index(spark, str(tmp_path / "never"))


def test_first_append_crash_before_commit_replays_to_fixpoint(
    spark, tmp_path, store_backend_impl
):
    """A crash between the first data write and the CURRENT commit leaves
    no pointer; the replay must take the same first-append path and end
    committed with exactly the batch's rows."""
    import os

    idx = str(tmp_path / "idx")
    # simulate the crash window: data written, CURRENT never flipped
    _digests(spark, [(1, "a")]).withColumn(
        "batch_seq", F.lit(0)
    ).write.partitionBy("batch_seq").parquet(f"{idx}/gen-0/data")
    assert not os.path.exists(f"{idx}/CURRENT")
    append_index(_digests(spark, [(1, "a"), (2, "b")]), idx, batch_id=0)
    assert read_index(spark, idx).count() == 2
    assert store_current(idx).endswith("gen-0")


def test_compact_merges_batches_preserves_rows_and_guards_replays(
    spark, tmp_path, store_backend_impl
):
    idx = str(tmp_path / "idx")
    for b in range(4):
        append_index(
            _digests(spark, [(10 * b + i, f"t{b}-{i}") for i in range(5)]),
            idx,
            batch_id=b,
        )
    rows_b, files_b, batches_b = layout_audit(read_index(spark, idx))
    assert batches_b == 4
    audit = compact_index(spark, idx, upto_batch=2)
    assert audit["rows_before"] == audit["rows_after"] == rows_b == 20
    assert audit["files_after"] < audit["files_before"]
    assert audit["batches_before"] == 4
    assert audit["batches_after"] == 2  # {<=2 merged}, {3}
    assert not audit["noop_replay"]
    # contents unchanged: same distinct hashes
    assert read_index(spark, idx).select("content_hash").distinct().count() == 20
    # watermark persisted in the committed generation
    assert store_watermark(store_current(idx)) == 2
    # replayed compaction is a no-op fixpoint
    audit2 = compact_index(spark, idx, upto_batch=2)
    assert audit2["noop_replay"]
    assert audit2["rows_after"] == 20
    # a LOWER watermark must refuse (it would re-admit merged replays)
    with pytest.raises(ValueError, match="monotone"):
        compact_index(spark, idx, upto_batch=1)
    # append at/below the watermark refuses loudly...
    with pytest.raises(ValueError, match="watermark"):
        append_index(_digests(spark, [(99, "zz")]), idx, batch_id=2)
    # ...and a fresh batch above it appends fine
    append_index(_digests(spark, [(99, "zz")]), idx, batch_id=4)
    assert read_index(spark, idx).count() == 21
    # a SECOND compaction (higher watermark) composes
    audit3 = compact_index(spark, idx, upto_batch=4)
    assert audit3["rows_after"] == 21
    assert audit3["batches_after"] == 1
    assert store_watermark(store_current(idx)) == 4


def test_salted_repartition_splits_giant_partition(spark, tmp_path):
    """A deliberately skewed batch (500 rows vs 5) with
    max_rows_per_file=100 must emit several files for the giant
    partition and still exactly one for the small one — and lose no
    rows."""
    idx = str(tmp_path / "idx")
    giant = spark.range(500).select(
        F.sha2(F.col("id").cast("string"), 256).alias("content_hash")
    )
    small = spark.range(5).select(
        F.sha2((F.col("id") + 1000).cast("string"), 256).alias(
            "content_hash"
        )
    )
    append_index(giant, idx, batch_id=0)
    append_index(small, idx, batch_id=1)
    audit = compact_index(
        spark, idx, upto_batch=0, max_rows_per_file=100
    )
    assert audit["rows_after"] == 505
    per_batch = (
        read_index(spark, idx)
        .select("batch_seq", F.input_file_name().alias("__f"))
        .groupBy("batch_seq")
        .agg(F.countDistinct("__f").alias("files"))
        .collect()
    )
    files = {r["batch_seq"]: r["files"] for r in per_batch}
    assert files[0] > 1, "giant partition must salt-split across files"
    assert files[1] == 1


def test_salted_repartition_keeps_null_keyed_rows(spark):
    """Null layout keys never equi-match, so the fan-out join must be
    null-safe: the salted path has to keep exactly the rows the unsalted
    path (and the write itself, which files nulls under the Hive default
    partition) keeps — dropping them would silently shrink a compaction
    rewrite with no audit to catch it on the append_to_ivf_index path."""
    df = spark.range(120).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id") % 2)
        .alias("k"),
        F.col("id").alias("v"),
    )
    out = salted_repartition(df, ["k"], split_col="v", max_rows_per_file=20)
    assert out.count() == 120
    assert out.where(F.col("k").isNull()).count() == 40
    assert out.agg(F.sum("v")).first()[0] == sum(range(120))


def test_store_current_refuses_torn_pointer(spark, tmp_path):
    """A torn/empty CURRENT (power loss between create and fsync) must
    fail with the descriptive store error, not a baffling parquet
    path-not-found three frames later."""
    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a")]), idx, batch_id=0)
    with open(f"{idx}/CURRENT", "w") as fh:
        fh.write("")  # torn: rename made visible before the write landed
    with pytest.raises(ValueError, match="corrupt CURRENT"):
        store_current(idx)
    with open(f"{idx}/CURRENT", "w") as fh:
        fh.write("gen-999")  # pointer to a generation that never existed
    with pytest.raises(ValueError, match="corrupt CURRENT"):
        read_index(spark, idx)
    # recovery: re-commit the real generation and reads work again
    from batch_processing_iac_aws_spark.operators.index_store import (
        store_commit,
    )

    store_commit(idx, "gen-0")
    assert read_index(spark, idx).count() == 1


def test_salted_repartition_rows_invariant(spark):
    df = spark.range(300).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("v")
    )
    out = salted_repartition(
        df, ["k"], split_col="v", max_rows_per_file=40
    )
    assert out.count() == 300
    assert sorted(out.columns) == ["k", "v"]
    assert out.agg(F.sum("v")).first()[0] == sum(range(300))


def test_compact_ivf_index_salt_splits_giant_cell(spark, tmp_path):
    """Item-7 guard on the ANN side: compaction with max_rows_per_file
    must split a deliberately skewed cell across >1 file while keeping
    the audit invariants (rows identical, search unchanged is covered by
    the bit-identity tests — here we pin layout + rows)."""
    from batch_processing_iac_aws_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_assignments,
    )
    from batch_processing_iac_aws_spark.session import local_frame

    # 2 well-separated clusters, one 10x the other: with n_centroids=2
    # the big cluster lands in ONE cell
    rows = [(i, [10.0 + (i % 7) * 0.01, 0.0]) for i in range(200)]
    rows += [(1000 + i, [0.0, 10.0 + i * 0.01]) for i in range(20)]
    corpus = local_frame(
        spark, rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        corpus.filter(F.col("vec_id") % 2 == 0), idx,
        n_centroids=2, batch_id=0,
    )
    append_to_ivf_index(
        corpus.filter(F.col("vec_id") % 2 == 1), idx, batch_id=1,
        drift_floor=-1.0,
    )
    audit = compact_ivf_index(
        spark, idx, upto_batch=1, max_rows_per_file=50
    )
    assert audit["rows_before"] == audit["rows_after"] == 220
    per_cell = (
        ivf_assignments(spark, idx)
        .select("ivf_cluster", F.input_file_name().alias("__f"))
        .groupBy("ivf_cluster")
        .agg(
            F.countDistinct("__f").alias("files"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()
    )
    big = max(per_cell, key=lambda r: r["rows"])
    assert big["rows"] >= 150
    assert big["files"] > 1, "giant cell must salt-split across files"


def test_streaming_dedup_ingest_continues_after_compaction(
    spark, tmp_path, store_backend_impl
):
    """Compaction mid-stream for the DEDUP store (the interplay test the
    ANN index got in round 8): two ingested batches compact under the
    watermark, the index still dedups exactly, a FRESH batch above the
    watermark ingests fine, and a replay of a compacted-away batch
    refuses loudly instead of doubling rows."""
    from batch_processing_iac_aws_spark.streaming.pipeline import (
        ingest_dedup_batch,
    )

    table, idx = str(tmp_path / "table"), str(tmp_path / "idx")
    b0 = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(3, "ccc"), (4, "aaa")], "doc_id long, text string"
    )
    ingest_dedup_batch(b0, 0, table_dir=table, index_dir=idx)
    ingest_dedup_batch(b1, 1, table_dir=table, index_dir=idx)
    audit = compact_index(spark, idx, upto_batch=1)
    assert audit["rows_after"] == 3  # aaa, bbb, ccc — 4 deduped
    # post-compaction the index still catches dups and passes new docs
    b2 = spark.createDataFrame(
        [(5, "bbb"), (6, "ddd")], "doc_id long, text string"
    )
    ingest_dedup_batch(b2, 2, table_dir=table, index_dir=idx)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 2, 3, 6]
    # replay of a compacted-away batch must refuse BEFORE any write:
    # neither the table nor the index may change — the replay's index
    # read would exclude "its own" batch_seq=1 partition, which after
    # compaction holds the MERGED history, so a late refusal (after the
    # table overwrite) would have resurrected doc 4 as a survivor
    with pytest.raises(ValueError, match="watermark"):
        ingest_dedup_batch(b1, 1, table_dir=table, index_dir=idx)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 2, 3, 6]
    assert read_index(spark, idx).count() == 4


def test_streaming_sparse_ingest_continues_after_compaction(spark, tmp_path):
    """The sparse inverted index (id, idx, c, norm2_sum — a different
    payload schema from the sha digests) through the same store
    lifecycle: two ingested batches compact, cosine dedup still fires
    against the merged history, a fresh batch ingests above the
    watermark, and a compacted-batch replay refuses before any write."""
    from batch_processing_iac_aws_spark.streaming.pipeline import (
        ingest_sparse_batch,
    )

    table, idx = str(tmp_path / "table"), str(tmp_path / "idx")
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "into the deep dark forest tonight")
    rev = " ".join(reversed(base.split()))
    b0 = spark.createDataFrame(
        [(0, base), (1, "spark shuffles partition data fast")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, rev), (11, "completely fresh words about parquet pruning")],
        "doc_id long, text string",
    )
    kw = dict(table_dir=table, index_dir=idx, dim=1 << 12, threshold=0.95)
    ingest_sparse_batch(b0, 0, **kw)
    ingest_sparse_batch(b1, 1, **kw)  # 10 drops (word-permuted re-crawl)
    audit = compact_index(spark, idx, upto_batch=1)
    assert audit["batches_after"] == 1
    assert audit["rows_before"] == audit["rows_after"]
    # post-compaction: an exact re-crawl of doc 0 and a new doc
    b2 = spark.createDataFrame(
        [(20, base), (21, "another brand new document entirely different")],
        "doc_id long, text string",
    )
    ingest_sparse_batch(b2, 2, **kw)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]
    with pytest.raises(ValueError, match="watermark"):
        ingest_sparse_batch(b1, 1, **kw)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]


def test_append_to_ivf_index_salt_splits_giant_cell_at_write(
    spark, tmp_path
):
    """The ingest path takes the same skew guard compaction does: a
    skewed batch appended with max_rows_per_file must salt its giant
    cell across several files at the WRITE."""
    from batch_processing_iac_aws_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_assignments,
    )
    from batch_processing_iac_aws_spark.session import local_frame

    seed = local_frame(
        spark,
        [(0, [10.0, 0.0]), (1, [0.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(seed, idx, n_centroids=2, batch_id=0)
    giant = local_frame(
        spark,
        [(100 + i, [10.0 + (i % 9) * 0.01, 0.0]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    append_to_ivf_index(
        giant, idx, batch_id=1, drift_floor=-1.0, max_rows_per_file=80
    )
    per = (
        ivf_assignments(spark, idx)
        .where(F.col("batch_seq") == 1)
        .select("ivf_cluster", F.input_file_name().alias("__f"))
        .groupBy("ivf_cluster")
        .agg(
            F.countDistinct("__f").alias("files"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()
    )
    big = max(per, key=lambda r: r["rows"])
    assert big["rows"] == 300
    assert big["files"] > 1


def test_foreign_layout_refuses_instead_of_silently_first_batching(
    spark, tmp_path, store_backend_impl
):
    """A pre-store bare batch_seq=* parquet tree (the old read-by-path
    layout) has no CURRENT pointer; treating it as 'first batch' would
    silently ignore ALL history — every duplicate would ingest AND
    append. The store must refuse loudly (migration is explicit), while
    a crash-window tree holding only gen-* dirs keeps the first-batch
    FileNotFoundError path."""
    from batch_processing_iac_aws_spark.streaming.pipeline import (
        ingest_dedup_batch,
    )

    idx = str(tmp_path / "legacy")
    _digests(spark, [(1, "a")]).withColumn(
        "batch_seq", F.lit(0)
    ).write.partitionBy("batch_seq").parquet(idx)
    with pytest.raises(ValueError, match="unrecognized index layout"):
        read_index(spark, idx)
    b = spark.createDataFrame([(2, "b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unrecognized index layout"):
        ingest_dedup_batch(b, 1, table_dir=str(tmp_path / "t"), index_dir=idx)
    with pytest.raises(ValueError, match="unrecognized index layout"):
        append_index(_digests(spark, [(2, "b")]), idx, batch_id=1)


def test_salted_repartition_empty_frame_is_noop(spark):
    df = spark.range(0).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    out = salted_repartition(df, ["k"], split_col="v", max_rows_per_file=10)
    assert out.count() == 0


@pytest.mark.parametrize("method", ["dedup", "sparse", "quality", "fuzzy"])
def test_table_store_replay_refuses_before_any_table_write(
    spark, tmp_path, method
):
    """The round-10 contract: the corpus TABLE behind the generationed
    store. After compact_table merges batches 0-1, a replay of
    compacted-away batch 1 must refuse BEFORE ANY WRITE — table-side
    specifically (the index here stays UNcompacted, so the index guard
    cannot be the one firing) — leaving both the table's file listing
    and its logical rows bit-identical. Run through every ingest batch
    function, since they all share the one guard; the quality gate's
    weights keep every row (logit 0)."""
    import os
    from functools import partial

    from batch_processing_iac_aws_spark.operators.index_store import (
        compact_table,
        read_table,
    )
    from batch_processing_iac_aws_spark.streaming import pipeline

    ingest_batch = {
        "dedup": pipeline.ingest_dedup_batch,
        "sparse": pipeline.ingest_sparse_batch,
        "quality": partial(
            pipeline.ingest_quality_batch, weights={"bias": 0.0}
        ),
        "fuzzy": pipeline.ingest_fuzzy_batch,
    }[method]
    table, idx = str(tmp_path / "table"), str(tmp_path / "idx")
    b0 = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma")], "doc_id long, text string"
    )
    kw = dict(table_dir=table, index_dir=idx)
    ingest_batch(b0, 0, **kw)
    ingest_batch(b1, 1, **kw)  # 10 drops (exact dup of 0)
    audit = compact_table(spark, table, upto_batch=1)
    assert audit["batches_after"] == 1
    assert audit["rows_before"] == audit["rows_after"] == 3
    # per-row arrival lineage survives compaction as the DATA column
    rows_pre = sorted(
        (r["doc_id"], r["ingest_batch"])
        for r in read_table(spark, table).collect()
    )
    assert rows_pre == [(0, 0), (1, 0), (11, 1)]

    def _listing(root):
        out = []
        for d, _, fs in os.walk(root):
            for f in fs:
                p = os.path.join(d, f)
                out.append((p, os.path.getsize(p)))
        return sorted(out)

    files_pre = _listing(table)
    with pytest.raises(ValueError, match="watermark"):
        ingest_batch(b1, 1, **kw)
    assert _listing(table) == files_pre, "refusal must precede any write"
    assert sorted(
        (r["doc_id"], r["ingest_batch"])
        for r in read_table(spark, table).collect()
    ) == rows_pre
    # a fresh batch above the watermark ingests fine, dedups against the
    # compacted history, and lands inside the compacted generation
    b2 = spark.createDataFrame(
        [(20, "gamma"), (21, "delta")], "doc_id long, text string"
    )
    ingest_batch(b2, 2, **kw)
    assert sorted(
        (r["doc_id"], r["ingest_batch"])
        for r in read_table(spark, table).collect()
    ) == [(0, 0), (1, 0), (11, 1), (21, 2)]


def test_table_store_streaming_checkpoint_continues_after_compaction(
    spark, tmp_path, store_backend_impl
):
    """run_rolling_ingest + ingest_dedup_batch through the REAL streaming
    engine: batches 0-1 drain, the TABLE compacts mid-checkpoint under the
    atomic generation flip, and the SAME checkpoint resumes for batch 2
    — reading through the new generation and landing its own partition
    above the watermark."""
    import shutil

    from batch_processing_iac_aws_spark.operators.index_store import (
        compact_table,
        read_table,
    )
    from functools import partial

    from batch_processing_iac_aws_spark.streaming.pipeline import (
        ingest_dedup_batch,
        run_rolling_ingest,
    )

    src = str(tmp_path / "src")
    table, idx, ckpt = (
        str(tmp_path / "table"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    ingest = partial(ingest_dedup_batch, table_dir=table, index_dir=idx)
    stage = str(tmp_path / "stage")
    batches = [
        [(0, "alpha"), (1, "beta")],
        [(10, "alpha"), (11, "gamma")],
        [(20, "gamma"), (21, "delta")],
    ]
    paths = []
    for i, rows in enumerate(batches):
        p = f"{stage}/b{i}"
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(p)
        paths.append(p)
    import glob as _glob
    import os
    import time

    os.makedirs(src, exist_ok=True)
    for i, p in enumerate(paths[:2]):
        f = _glob.glob(f"{p}/*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    run_rolling_ingest(spark, src, ckpt, ingest)
    audit = compact_table(spark, table, upto_batch=1)
    assert audit["batches_after"] == 1 and not audit["noop_replay"]
    f = _glob.glob(f"{paths[2]}/*.parquet")[0]
    dst = f"{src}/b2.parquet"
    shutil.copy(f, dst)
    os.utime(dst, (time.time() + 9, time.time() + 9))
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert sorted(
        (r["doc_id"], r["ingest_batch"])
        for r in read_table(spark, table).collect()
    ) == [(0, 0), (1, 0), (11, 1), (21, 2)]


def test_compact_if_needed_thresholds_and_committed_horizon(
    spark, tmp_path, store_backend_impl
):
    """The maintenance policy: below threshold it must touch NOTHING
    (same generation dir, no rewrite), above it compacts exactly up to
    the caller's committed horizon, and a horizon at/below the existing
    watermark is a no-op — never a monotonicity crash."""
    from batch_processing_iac_aws_spark.operators.index_store import (
        compact_if_needed,
    )

    idx = str(tmp_path / "idx")
    # never-committed store: trivially below threshold
    assert compact_if_needed(spark, idx, committed_upto=0) is None
    for b in range(4):
        append_index(
            _digests(spark, [(10 * b + i, f"t{b}-{i}") for i in range(3)]),
            idx,
            batch_id=b,
        )
    gen_before = store_current(idx)
    # 4 batches <= max_batches=8: no-op, same generation
    assert compact_if_needed(spark, idx, committed_upto=3) is None
    assert store_current(idx) == gen_before
    # lower the threshold: compacts up to the committed horizon (2),
    # batch 3 keeps its own partition and stays replayable
    audit = compact_if_needed(spark, idx, committed_upto=2, max_batches=2)
    assert audit is not None
    assert audit["batches_before"] == 4 and audit["batches_after"] == 2
    assert audit["rows_before"] == audit["rows_after"] == 12
    assert store_watermark(store_current(idx)) == 2
    # a FRESH batch above the watermark appends fine (batch_id=3 here
    # would be a REPLAY and dynamic-overwrite batch 3's partition — the
    # append contract, not this test's subject)
    append_index(_digests(spark, [(99, "fresh")]), idx, batch_id=4)
    assert read_index(spark, idx).count() == 13
    # horizon at the watermark: nothing new to merge -> None, not a
    # monotone-watermark ValueError
    assert (
        compact_if_needed(spark, idx, committed_upto=2, max_batches=1)
        is None
    )
    # file-count trigger fires independently of the batch trigger
    audit2 = compact_if_needed(
        spark, idx, committed_upto=4, max_batches=None, max_files=1
    )
    assert audit2 is not None and audit2["batches_after"] == 1
    assert audit2["rows_after"] == 13


def test_compact_if_needed_noop_is_metadata_only(spark, tmp_path):
    """The r10 verdict's named scale defect: the threshold TRIGGER must
    not scan row data — fused in-band it runs before every micro-batch,
    and a full-corpus aggregation per check costs more than the ingest
    it maintains at 100 TB. The no-op path derives file/batch counts
    from a driver-side directory listing only; passing ``spark=None``
    proves STRUCTURALLY that no Spark job can launch (there is no
    session to launch one with)."""
    from batch_processing_iac_aws_spark.operators.index_store import (
        compact_if_needed,
        layout_counts_meta,
    )

    idx = str(tmp_path / "idx")
    # never-committed store: no session needed at all
    assert compact_if_needed(None, idx, committed_upto=0) is None
    for b in range(3):
        append_index(_digests(spark, [(b, f"t{b}")]), idx, batch_id=b)
    # below threshold over a COMMITTED store — still zero Spark jobs
    assert compact_if_needed(None, idx, committed_upto=2) is None
    assert (
        compact_if_needed(None, idx, committed_upto=2, max_files=50)
        is None
    )
    # the metadata counts agree with the engine-side audit
    files_m, batches_m = layout_counts_meta(store_current(idx))
    rows, files, batches = layout_audit(read_index(spark, idx))
    assert (files_m, batches_m) == (files, batches) == (3, 3)
    # horizon at/below an existing watermark: still metadata-only
    compact_index(spark, idx, upto_batch=1)
    assert compact_if_needed(None, idx, committed_upto=1, max_batches=1) is None
    # and above threshold the same call (with a real session) compacts
    audit = compact_if_needed(spark, idx, committed_upto=2, max_batches=1)
    assert audit is not None and audit["batches_after"] == 1


def test_migrate_bare_tree_refuse_then_migrate_then_append(
    spark, tmp_path, store_backend_impl
):
    """The operational gap the foreign-layout refusal describes: a
    pre-store bare batch_seq=* tree refuses appends until migrated;
    migrate_bare_tree rewrites every old partition under one committed
    generation (rows preserved, lineage partition values preserved),
    after which reads and fresh appends work and history is honored —
    no silent first-batch duplication. A replay after a crash between
    commit and source cleanup finishes the cleanup as a fixpoint."""
    import os
    import shutil as _sh

    from batch_processing_iac_aws_spark.operators.index_store import (
        migrate_bare_tree,
    )

    idx = str(tmp_path / "legacy")
    for b in range(3):
        _digests(spark, [(10 * b + i, f"t{b}-{i}") for i in range(2)]).withColumn(
            "batch_seq", F.lit(b)
        ).write.mode("append").partitionBy("batch_seq").parquet(idx)
    with pytest.raises(ValueError, match="unrecognized index layout"):
        append_index(_digests(spark, [(99, "z")]), idx, batch_id=3)
    audit = migrate_bare_tree(spark, idx)
    assert audit["rows_before"] == audit["rows_after"] == 6
    assert audit["batches"] == 3 and not audit["noop_replay"]
    got = read_index(spark, idx)
    assert got.count() == 6
    assert sorted(
        r["batch_seq"] for r in got.select("batch_seq").distinct().collect()
    ) == [0, 1, 2]
    # bare source dirs are gone; the store is the single authority
    assert not [
        e for e in os.listdir(idx) if e.startswith("batch_seq=")
    ]
    # fresh append works; history preserved (7 rows total)
    append_index(_digests(spark, [(99, "z")]), idx, batch_id=3)
    assert read_index(spark, idx).count() == 7
    # crash between commit and cleanup: a leftover bare dir alongside
    # CURRENT -> replay finishes cleanup, reports noop, rows unchanged
    _digests(spark, [(5, "stray")]).withColumn(
        "batch_seq", F.lit(0)
    ).write.partitionBy("batch_seq").parquet(str(tmp_path / "stray"))
    _sh.copytree(
        str(tmp_path / "stray" / "batch_seq=0"), f"{idx}/batch_seq=0"
    )
    replay = migrate_bare_tree(spark, idx)
    assert replay["noop_replay"] and replay["rows_after"] == 7
    assert not [
        e for e in os.listdir(idx) if e.startswith("batch_seq=")
    ]
    # fully-migrated store with nothing bare: loud, not a silent no-op
    with pytest.raises(ValueError, match="nothing to migrate"):
        migrate_bare_tree(spark, idx)


# --- snapshot (as_of_batch) reads ------------------------------------


def _texts(spark, rows, batch):
    return spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("ingest_batch", F.lit(batch))


def test_snapshot_asof_reads_exact_prefix_and_prunes(
    spark, tmp_path, store_backend_impl
):
    """as_of_batch=K is the store's snapshot read: exactly the rows of
    batches <= K, and the cutoff reaches the scan as a PartitionFilter
    (pruned directories, not a post-scan filter) — at a 100 TB rolling
    corpus a snapshot must cost the snapshot's partitions, not a scan."""
    from .test_plans import plan_of

    idx = str(tmp_path / "idx")
    for b in range(3):
        append_index(
            _digests(spark, [(10 * b + i, f"t{b}-{i}") for i in range(2)]),
            idx,
            batch_id=b,
        )
    snap = read_index(spark, idx, as_of_batch=1)
    assert snap.count() == 4
    assert sorted(
        r["batch_seq"]
        for r in snap.select("batch_seq").distinct().collect()
    ) == [0, 1]
    plan = plan_of(snap)
    assert "PartitionFilters: [" in plan
    assert "batch_seq" in plan.split("PartitionFilters")[1].split("]")[0]
    files = [
        r["f"]
        for r in snap.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert files and all("batch_seq=2" not in f for f in files)


def test_snapshot_asof_survives_compaction_at_or_above_watermark(
    spark, tmp_path
):
    """Compaction merges layout without changing rows, so a snapshot at
    or above the watermark is IDENTICAL before and after — merged
    batches remap DOWN to the watermark, never up."""
    idx = str(tmp_path / "idx")
    for b in range(3):
        append_index(
            _digests(spark, [(10 * b + i, f"t{b}-{i}") for i in range(2)]),
            idx,
            batch_id=b,
        )
    before = sorted(
        r["content_hash"]
        for r in read_index(spark, idx, as_of_batch=1).collect()
    )
    compact_index(spark, idx, upto_batch=1)
    after = sorted(
        r["content_hash"]
        for r in read_index(spark, idx, as_of_batch=1).collect()
    )
    assert before == after and len(after) == 4
    # the full read (as_of the newest batch) is the whole store
    assert read_index(spark, idx, as_of_batch=2).count() == 6


def test_snapshot_below_watermark_refuses_without_lineage(spark, tmp_path):
    """Batches below the watermark were merged into one partition; the
    layout alone cannot recover the boundary, and returning the merged
    superset would silently include post-K rows — refuse loudly."""
    idx = str(tmp_path / "idx")
    for b in range(2):
        append_index(_digests(spark, [(b, f"t{b}")]), idx, batch_id=b)
    compact_index(spark, idx, upto_batch=1)
    with pytest.raises(ValueError, match="below this store's compaction"):
        read_index(spark, idx, as_of_batch=0)


def test_snapshot_below_watermark_with_lineage_recovers_exact_batch(
    spark, tmp_path
):
    """Stores that stamp per-row arrival lineage as a DATA column (the
    store-backed table ingests' ingest_batch) keep EVERY snapshot
    recoverable through compaction: lineage filters the merged
    partition exactly, while batch_seq still prunes all post-watermark
    partitions from the scan."""
    from batch_processing_iac_aws_spark.operators.index_store import (
        append_table,
        compact_table,
    )

    table = str(tmp_path / "table")
    for b in range(3):
        append_table(
            _texts(spark, [(10 * b + i, f"d{b}-{i}") for i in range(2)], b),
            table,
            batch_id=b,
        )
    compact_table(spark, table, upto_batch=1)
    snap = read_table(
        spark, table, as_of_batch=0, lineage_col="ingest_batch"
    )
    assert sorted(r["doc_id"] for r in snap.collect()) == [0, 1]
    # post-watermark partitions never open: the horizon prune is real
    files = [
        r["f"]
        for r in snap.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert files and all("batch_seq=2" not in f for f in files)
    # lineage also answers snapshots ABOVE the watermark exactly
    assert read_table(
        spark, table, as_of_batch=1, lineage_col="ingest_batch"
    ).count() == 4


# --- schema-drift refusal (the generation's SCHEMA contract) ----------


def test_append_schema_drift_refuses_before_write(
    spark, tmp_path, store_backend_impl
):
    """A batch whose payload schema drifted from the store's contract
    must refuse BEFORE any write: heterogeneous partition schemas make
    read_index resolve to one random footer and silently drop columns
    (engine-demonstrated — this is the silent-data-loss class, not a
    style rule). Added, missing, and retyped columns all refuse and are
    NAMED; matching schemas append regardless of column order or case."""
    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a")]), idx, batch_id=0)
    pre = sorted(r["content_hash"] for r in read_index(spark, idx).collect())

    with pytest.raises(ValueError, match=r"added=\['score'\]"):
        append_index(
            spark.createDataFrame(
                [("x", 1.0)], "content_hash string, score double"
            ),
            idx,
            batch_id=1,
        )
    with pytest.raises(ValueError, match=r"missing=\['content_hash'\]"):
        append_index(
            spark.createDataFrame([(1.0,)], "score double"), idx, batch_id=1
        )
    with pytest.raises(ValueError, match="retyped.*content_hash"):
        append_index(
            spark.createDataFrame([(7,)], "content_hash bigint"),
            idx,
            batch_id=1,
        )
    # nothing was written by any refused append
    assert sorted(
        r["content_hash"] for r in read_index(spark, idx).collect()
    ) == pre
    # same contract under different case appends fine (parquet resolves
    # by name; the contract is case-insensitive like Spark's resolver)
    append_index(
        spark.createDataFrame([("z",)], "CONTENT_HASH string"),
        idx,
        batch_id=1,
    )
    assert read_index(spark, idx).count() == 2


def test_schema_contract_self_heals_and_survives_compaction(
    spark, tmp_path, store_backend_impl
):
    """Stores created before the contract existed (no SCHEMA file)
    derive it from the committed footers on the first append and
    persist it; compaction carries the contract into the new
    generation, so drift keeps refusing with no footer re-read."""
    import os

    idx = str(tmp_path / "idx")
    for b in range(2):
        append_index(_digests(spark, [(b, f"t{b}")]), idx, batch_id=b)
    gen = store_current(idx)
    os.remove(f"{gen}/SCHEMA")  # simulate a pre-contract store
    append_index(_digests(spark, [(9, "heal")]), idx, batch_id=2)
    assert os.path.exists(f"{gen}/SCHEMA")  # self-healed
    compact_index(spark, idx, upto_batch=2)
    new_gen = store_current(idx)
    assert new_gen != gen and os.path.exists(f"{new_gen}/SCHEMA")
    with pytest.raises(ValueError, match="schema drifted"):
        append_index(
            spark.createDataFrame(
                [("x", 1)], "content_hash string, extra int"
            ),
            idx,
            batch_id=3,
        )
    append_index(_digests(spark, [(10, "ok")]), idx, batch_id=3)
    assert read_index(spark, idx).count() == 4


def test_precontract_heterogeneous_footers_heal_deterministically(
    spark, tmp_path
):
    """The pre-contract self-heal derives the contract with
    mergeSchema=true — ALL footers, not one sampled footer: a
    pre-contract tree that already accreted heterogeneous partition
    schemas (exactly the hazard the guard exists for) must heal into
    ONE deterministic union contract, so which future appends refuse is
    decided by the drift itself, not by which footer Spark happened to
    sample at heal time."""
    import json
    import os

    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a")]), idx, batch_id=0)
    gen = store_current(idx)
    # accrete a drifted partition the way a pre-contract writer would —
    # directly into the tree, bypassing the (then-nonexistent) guard
    spark.createDataFrame(
        [("b", 7)], "content_hash string, extra int"
    ).write.parquet(f"{gen}/data/batch_seq=1")
    os.remove(f"{gen}/SCHEMA")  # simulate a pre-contract store
    # the heal must see BOTH footers: a narrow append refuses with the
    # drifted column NAMED (a single sampled footer would instead admit
    # it or refuse the wide twin, nondeterministically per run)
    with pytest.raises(ValueError, match=r"missing=\['extra'\]"):
        append_index(_digests(spark, [(2, "c")]), idx, batch_id=2)
    with open(f"{gen}/SCHEMA") as fh:
        contract = json.load(fh)
    assert set(contract) == {"content_hash", "extra"}


def test_snapshot_asof_property_random_lifecycles(spark, tmp_path):
    """Hypothesis-style randomized lifecycle (deterministic seeds, no
    Spark-in-hypothesis flakiness): random batch contents, a random
    compaction point, random snapshot horizons — every as_of_batch=K at
    or above the watermark must equal the union of batches <= K of a
    pure-Python model, before AND after compaction."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        idx = str(tmp_path / f"idx{seed}")
        n_batches = rng.randint(3, 5)
        model = {}
        for b in range(n_batches):
            rows = [
                (b * 100 + i, f"s{seed}-b{b}-{rng.randint(0, 9)}")
                for i in range(rng.randint(1, 4))
            ]
            model[b] = rows
            append_index(_digests(spark, rows), idx, batch_id=b)

        def snap(k):
            import hashlib

            return sorted(
                hashlib.sha256(t.encode()).hexdigest()
                for b in range(k + 1)
                for _, t in model[b]
            )

        for k in range(n_batches):
            got = sorted(
                r["content_hash"]
                for r in read_index(spark, idx, as_of_batch=k).collect()
            )
            assert got == snap(k), (seed, "pre-compact", k)
        upto = rng.randint(0, n_batches - 1)
        compact_index(spark, idx, upto_batch=upto)
        for k in range(upto, n_batches):
            got = sorted(
                r["content_hash"]
                for r in read_index(spark, idx, as_of_batch=k).collect()
            )
            assert got == snap(k), (seed, "post-compact", k)
        if upto > 0:
            with pytest.raises(ValueError, match="below this store"):
                read_index(spark, idx, as_of_batch=upto - 1)


# --- reads with the generation's SCHEMA (no inference job) -------------


def _assert_reads_like_inference(spark, idx):
    """read_index gives the schema and rows of a plain inferring read of
    the committed data tree."""
    got = read_index(spark, idx)
    plain = spark.read.parquet(f"{store_current(idx)}/data")
    assert got.schema == plain.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_read_index_starts_no_job(
    spark, tmp_path, store_backend_impl, jobs_started
):
    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a")]), idx, batch_id=0)
    append_index(_digests(spark, [(2, "b")]), idx, batch_id=1)
    df, jobs = jobs_started(lambda: read_index(spark, idx))
    assert jobs == 0
    assert df.count() == 2


def test_read_index_matches_inference_across_lifecycle(
    spark, tmp_path, store_backend_impl
):
    """Before and after compaction, and after a case-variant append that
    the name-keyed contract admits."""
    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a"), (2, "b")]), idx, batch_id=0)
    append_index(_digests(spark, [(3, "c")]), idx, batch_id=1)
    _assert_reads_like_inference(spark, idx)
    append_index(
        spark.createDataFrame([("z",)], "CONTENT_HASH string"),
        idx,
        batch_id=2,
    )
    _assert_reads_like_inference(spark, idx)
    compact_index(spark, idx, upto_batch=1)
    _assert_reads_like_inference(spark, idx)


def test_flat_schema_file_heals_into_full_schema(spark, tmp_path):
    """A SCHEMA file in the older flat name -> type-string form counts as
    missing: reads infer, and the next append re-derives the schema and
    rewrites the file as name -> StructField JSON."""
    import json

    idx = str(tmp_path / "idx")
    append_index(_digests(spark, [(1, "a")]), idx, batch_id=0)
    gen = store_current(idx)
    with open(f"{gen}/SCHEMA", "w") as fh:
        json.dump({"content_hash": "string"}, fh)
    _assert_reads_like_inference(spark, idx)
    append_index(_digests(spark, [(2, "b")]), idx, batch_id=1)
    with open(f"{gen}/SCHEMA") as fh:
        healed = json.load(fh)
    assert list(healed) == ["content_hash"]
    assert healed["content_hash"]["type"] == "string"
    assert healed["content_hash"]["name"] == "content_hash"
    _assert_reads_like_inference(spark, idx)
    with pytest.raises(ValueError, match=r"added=\['score'\]"):
        append_index(
            spark.createDataFrame(
                [("x", 1.0)], "content_hash string, score double"
            ),
            idx,
            batch_id=2,
        )


# --- StoreBackend: the control-plane storage seam ----------------------


def test_store_backend_seam_routes_all_control_plane_ops():
    """Every control-plane operation (pointer commit/read, watermark,
    schema contract, layout listing, the no-op auto-compact trigger,
    foreign-layout refusal) must route through the installed
    StoreBackend — proven with an in-memory fake under a path that does
    not exist on the local filesystem, so any leftover os.* call in
    those paths fails loudly. The no-op trigger additionally runs with
    spark=None: metadata-only on a fake object store, zero Spark jobs."""
    from batch_processing_iac_aws_spark.operators.index_store import (
        StoreBackend,
        _assert_store_layout,
        compact_if_needed,
        layout_counts_meta,
        set_store_backend,
        store_commit,
        store_current,
        store_watermark,
    )

    class MemBackend(StoreBackend):
        def __init__(self):
            self.small: dict[str, str] = {}
            self.dirs: set[str] = set()

        def _children(self, path):
            pref = path.rstrip("/") + "/"
            names = set()
            for p in list(self.small) + list(self.dirs):
                if p.startswith(pref):
                    names.add(p[len(pref):].split("/", 1)[0])
            return names

        def read_small(self, path):
            if path not in self.small:
                raise FileNotFoundError(path)
            return self.small[path]

        def put_small_atomic(self, path, text):
            self.small[path] = text

        def is_dir(self, path):
            return path in self.dirs

        def list_names(self, path):
            if path not in self.dirs:
                raise FileNotFoundError(path)
            return sorted(self._children(path))

        def list_files(self, path):
            if path not in self.dirs:
                raise FileNotFoundError(path)
            return sorted(
                n for n in self._children(path)
                if f"{path.rstrip('/')}/{n}" in self.small
            )

        def remove_tree(self, path):
            pref = path.rstrip("/") + "/"
            self.small = {
                p: v for p, v in self.small.items()
                if p != path and not p.startswith(pref)
            }
            self.dirs = {
                d for d in self.dirs
                if d != path and not d.startswith(pref)
            }

    mem = MemBackend()
    idx = "mem://bucket/idx"
    gen = f"{idx}/gen-c1"
    mem.dirs |= {
        idx, gen, f"{gen}/data",
        f"{gen}/data/batch_seq=1", f"{gen}/data/batch_seq=2",
    }
    mem.small[f"{gen}/data/batch_seq=1/part-0.parquet"] = "x"
    mem.small[f"{gen}/data/batch_seq=1/part-1.parquet"] = "x"
    mem.small[f"{gen}/data/batch_seq=2/part-0.parquet"] = "x"
    prev = set_store_backend(mem)
    try:
        store_commit(idx, "gen-c1")
        assert mem.small[f"{idx}/CURRENT"] == "gen-c1"
        assert store_current(idx) == gen
        assert store_watermark(gen) is None
        mem.small[f"{gen}/COMPACTED_UPTO"] = "1"
        assert store_watermark(gen) == 1
        assert layout_counts_meta(gen) == (3, 2)
        # below-threshold trigger: metadata-only on the fake store,
        # spark=None proves no job can launch
        assert (
            compact_if_needed(
                None, idx, committed_upto=2, max_batches=8
            )
            is None
        )
        # foreign layout refuses through the backend listing too
        foreign = "mem://bucket/foreign"
        mem.dirs |= {foreign, f"{foreign}/random_dir"}
        with pytest.raises(ValueError, match="unrecognized index layout"):
            _assert_store_layout(foreign)
    finally:
        set_store_backend(prev)


def test_ivf_lifecycle_routes_control_plane_through_store_backend(
    spark, tmp_path
):
    """The persisted IVF index runs the store's own lifecycle, so its
    control plane goes through the installed StoreBackend too: the ANN
    ingest's first-batch CURRENT probe, the append's watermark read, and
    every COMPACTED_UPTO write — compaction's, and the one a drift
    retrain carries forward. A bare open() on any of them would bypass
    an object-store port (and, for writes, the backend's fsync)."""
    import os

    from batch_processing_iac_aws_spark.operators.index_store import (
        LocalStoreBackend,
        set_store_backend,
    )
    from batch_processing_iac_aws_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
    )
    from batch_processing_iac_aws_spark.streaming.pipeline import (
        ingest_ann_batch,
    )
    from tests.conftest import SF_SMOKE

    class Recording(LocalStoreBackend):
        def __init__(self):
            self.log: list[tuple[str, str]] = []

        def read_small(self, path):
            self.log.append(("read", path))
            return super().read_small(path)

        def put_small_atomic(self, path, text):
            self.log.append(("put", path))
            super().put_small_atomic(path, text)

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    rec = Recording()
    prev = set_store_backend(rec)
    try:
        ingest_ann_batch(
            emb.filter(F.col("vec_id") % 3 == 0), 0,
            index_dir=idx, n_centroids=8,
        )
        # the "is the index born yet" probe reads the pointer before
        # the build commits it
        assert rec.log[0] == ("read", f"{idx}/CURRENT")
        assert ("put", f"{idx}/CURRENT") in rec.log
        mark = len(rec.log)
        assert not append_to_ivf_index(
            emb.filter(F.col("vec_id") % 3 == 1), idx, batch_id=1
        )
        assert ("read", f"{idx}/gen-0/COMPACTED_UPTO") in rec.log[mark:]
        audit = compact_ivf_index(spark, idx, upto_batch=1)
        assert audit["rows_before"] == audit["rows_after"] > 0
        assert append_to_ivf_index(
            emb.filter(F.col("vec_id") % 3 == 2), idx, batch_id=2,
            drift_floor=1.1, max_drift_frac=0.0,
        )
        assert os.path.basename(store_current(idx)) == "gen-2"
        assert store_watermark(store_current(idx)) == 1
        assert [
            p for op, p in rec.log
            if op == "put" and p.endswith("/COMPACTED_UPTO")
        ] == [f"{idx}/gen-c1/COMPACTED_UPTO", f"{idx}/gen-2/COMPACTED_UPTO"]
    finally:
        set_store_backend(prev)


def test_fake_object_store_conditional_put_protocol(tmp_path):
    """The commit protocol the S3 port needs, pinned on the fake:
    put_if_absent refuses an existing key (If-None-Match: *),
    put_if_match refuses a stale or missing etag (If-Match),
    put_small_atomic loses a simulated race and RETRIES through the
    CAS loop to the caller's final value, and a pathological always-
    losing committer fails loudly instead of livelocking."""
    import pytest

    from batch_processing_iac_aws_spark.operators.index_store import (
        FakeObjectStoreBackend,
    )

    be = FakeObjectStoreBackend()
    key = str(tmp_path / "store" / "CURRENT")
    # create-if-absent: first wins, second refuses
    assert be.put_if_absent(key, "gen-0") is True
    assert be.put_if_absent(key, "gen-X") is False
    assert be.read_small(key) == "gen-0"
    # compare-and-swap: correct etag wins, stale etag refuses
    etag = be._etag(key)
    assert be.put_if_match(key, "gen-1", etag) is True
    assert be.put_if_match(key, "gen-2", etag) is False  # stale now
    assert be.read_small(key) == "gen-1"
    assert be.put_if_match(str(tmp_path / "nope"), "x", etag) is False
    # the CAS loop: a concurrent committer sneaks in between the GET
    # and the conditional PUT exactly once; the loop must detect the
    # precondition failure, re-read, and land the caller's value
    raced = {"n": 0}

    def contend(path):
        if raced["n"] == 0:
            raced["n"] += 1
            assert be.put_if_match(path, "gen-intruder", be._etag(path))

    be.contend_hook = contend
    be.put_small_atomic(key, "gen-2")
    be.contend_hook = None
    assert be.read_small(key) == "gen-2"
    assert be.cas_retries == 1
    # livelock guard: always losing must raise, not spin forever
    steal = {"n": 0}

    def always_lose(path):
        # a DISTINCT value each time, so the etag keeps moving and the
        # committer's compare-and-swap can never catch up
        steal["n"] += 1
        be_inner = FakeObjectStoreBackend()
        assert be_inner.put_if_match(
            path, f"thief-{steal['n']}", be._etag(path)
        )

    be.contend_hook = always_lose
    with pytest.raises(OSError, match="consecutive races"):
        be.put_small_atomic(key, "never-lands")


def test_fake_object_store_prefix_semantics(tmp_path):
    """Object-store namespace rules the POSIX backend can't exhibit:
    an empty directory is INVISIBLE (no objects under the prefix),
    is_dir is prefix existence, and listings are reconstructed from
    keys — including names that are dirs locally but empty (absent)."""
    import os

    import pytest

    from batch_processing_iac_aws_spark.operators.index_store import (
        FakeObjectStoreBackend,
    )

    be = FakeObjectStoreBackend()
    root = str(tmp_path / "bucket" / "idx")
    os.makedirs(f"{root}/empty-gen")  # a local dir with no objects
    assert be.is_dir(root) is False  # no keys yet -> prefix absent
    with pytest.raises(FileNotFoundError):
        be.list_names(root)
    assert be.put_if_absent(f"{root}/gen-0/data/part-0.parquet", "x")
    assert be.put_if_absent(f"{root}/CURRENT", "gen-0")
    assert be.is_dir(root) is True
    assert be.is_dir(f"{root}/gen-0") is True
    assert be.is_dir(f"{root}/empty-gen") is False
    # empty-gen is invisible in the listing; CURRENT + gen-0 are not
    assert be.list_names(root) == ["CURRENT", "gen-0"]
    assert be.list_files(root) == ["CURRENT"]
    # CAS swap plumbing is local, not namespace: a leftover reserved
    # temp file (crash between write and replace) never appears as an
    # object...
    with open(f"{root}/.CURRENT.swap.tmp", "w") as fh:
        fh.write("torn")
    assert be.list_names(root) == ["CURRENT", "gen-0"]
    assert be.list_files(root) == ["CURRENT"]
    # ...but a key LEGITIMATELY named '*.swap' is a real object — the
    # reserved pattern must not split the namespace from the data plane
    # (r13 ADVICE item 2)
    assert be.put_if_absent(f"{root}/user.swap", "mine")
    assert "user.swap" in be.list_names(root)
    assert "user.swap" in be.list_files(root)
    assert be.read_small(f"{root}/user.swap") == "mine"
    os.remove(f"{root}/user.swap")
    os.remove(f"{root}/.CURRENT.swap.tmp")
    be.remove_tree(f"{root}/gen-0")
    assert be.is_dir(f"{root}/gen-0") is False
    assert be.list_names(root) == ["CURRENT"]
