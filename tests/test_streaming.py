"""Structured Streaming: AvailableNow draining equals batch results;
incremental file pipeline processes each file exactly once across restarts
(the Glue-bookmark replacement); watermark dedup plumbing."""

from __future__ import annotations

import datetime as dt
from functools import partial

import pyspark.sql.functions as F
import pytest

from batch_processing_iac_aws_spark.operators.timeseries import expand_intervals
from batch_processing_iac_aws_spark.operators.index_store import read_table
from batch_processing_iac_aws_spark.streaming.pipeline import (
    ingest_ann_batch,
    ingest_dedup_batch,
    ingest_fuzzy_batch,
    ingest_sparse_batch,
    run_available_now_aggregation,
    run_incremental_expand,
    run_rolling_ingest,
)

SF = "/root/testdata/sf0.001"


def test_streaming_agg_equals_batch(spark):
    out = run_available_now_aggregation(
        spark, f"{SF}/events.parquet", name="t_stream_eq_batch"
    ).toPandas()
    from batch_processing_iac_aws_spark.plans import QUERIES

    batch = QUERIES["window_tumbling"](spark, SF).toPandas()
    key = ["window_start_us", "event_type"]
    a = out.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert a.equals(b[a.columns])


def _interval_rows(day: int):
    base = dt.datetime(2024, 1, day)
    return [
        (base, base + dt.timedelta(minutes=1), 4, 20.0 + day),
        (base + dt.timedelta(minutes=1), base + dt.timedelta(minutes=2), 2, 21.0 + day),
    ]


def test_incremental_expand_exactly_once(spark, tmp_path):
    """Two runs over a growing source dir: run 2 must process ONLY the new
    file — output rows never duplicate (unlike the reference's append,
    pyspark_skript/pyspark_script.py:127-130)."""
    src = tmp_path / "src"
    dst = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "start_time timestamp, end_time timestamp, samples int, temperature double"

    df1 = spark.createDataFrame(_interval_rows(1), schema)
    df1.write.parquet(str(src), mode="append")
    run_incremental_expand(spark, str(src), dst, ckpt, schema=spark.read.parquet(str(src)).schema)
    assert spark.read.parquet(dst).count() == 6

    df2 = spark.createDataFrame(_interval_rows(2), schema)
    df2.write.parquet(str(src), mode="append")
    run_incremental_expand(spark, str(src), dst, ckpt, schema=spark.read.parquet(str(src)).schema)
    out = spark.read.parquet(dst)
    assert out.count() == 12  # 6 + 6, no reprocessing of file 1

    # idempotent re-run with no new input: nothing changes
    run_incremental_expand(spark, str(src), dst, ckpt, schema=spark.read.parquet(str(src)).schema)
    assert spark.read.parquet(dst).count() == 12


def test_streaming_expand_matches_batch(spark, tmp_path):
    src = tmp_path / "src2"
    df = spark.createDataFrame(_interval_rows(3), "start_time timestamp, end_time timestamp, samples int, temperature double")
    df.write.parquet(str(src))
    dst = str(tmp_path / "out2")
    run_incremental_expand(
        spark, str(src), dst, str(tmp_path / "ckpt2"), schema=df.schema
    )
    streamed = spark.read.parquet(dst).orderBy("temperature", "sample_idx")
    batch = expand_intervals(df, mode="strict").orderBy("temperature", "sample_idx")
    assert [r.asDict() for r in streamed.collect()] == [
        r.asDict() for r in batch.collect()
    ]


def test_dedup_within_watermark_plumbing(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a rate-limited file stream: the
    duplicate event inside the delay window is dropped."""
    from batch_processing_iac_aws_spark.streaming.pipeline import (
        dedup_within_watermark,
    )

    src = tmp_path / "ev"
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 10, 0)),  # dup key inside watermark
        (2, dt.datetime(2024, 1, 1, 0, 5, 0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    df.write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    deduped = dedup_within_watermark(stream, keys=["event_id"], delay="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_dedup_wm").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_stateful_running_totals_matches_batch(spark):
    """applyInPandasWithState totals over one AvailableNow batch must equal
    the batch groupBy."""
    import uuid

    import pyspark.sql.functions as F

    from batch_processing_iac_aws_spark.streaming.pipeline import events_stream
    from batch_processing_iac_aws_spark.streaming.stateful import (
        running_user_totals,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(events_stream(spark, path))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
        for r in spark.table(name).collect()
    }
    from batch_processing_iac_aws_spark.catalog import load_table

    exp = {
        r["user_id"]: (r["n"], round(r["s"], 4))
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == exp


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Append-mode windowed agg with a 1-hour watermark: an event arriving
    a day late (second trigger, event time far behind the advanced
    watermark) must be DROPPED — its window was already finalized."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    src.mkdir()

    def write_batch(rows, fname):
        spark.createDataFrame(rows, "ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(str(src / fname))

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    write_batch([(t0, 1.0), (t0 + dt.timedelta(days=1), 1.0)], "b1")

    def run_once():
        stream = (
            spark.readStream.schema("ts timestamp, v double")
            .option("maxFilesPerTrigger", 100)
            .parquet(str(src / "*"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # second drop: one on-time event near the max seen, one event a full
    # day BEHIND the watermark (its hour-window is long closed)
    late = t0  # day-old window
    ontime = t0 + dt.timedelta(days=1, hours=2)
    write_batch([(late, 99.0), (ontime, 1.0)], "b2")
    run_once()

    rows = {r["ws"]: r["n"] for r in spark.read.parquet(sink).collect()}
    # the late duplicate of t0's window never re-emits: t0's window shows
    # only the first-batch count
    assert rows.get(dt.datetime(2024, 1, 1, 0, 0)) == 1


def test_continuous_rollup_idempotent_and_convergent(spark, tmp_path):
    """The foreachBatch partition-overwrite rollup must (a) equal the batch
    aggregation, (b) be a no-op on re-run with the same checkpoint, and
    (c) converge to the identical table when reprocessed from a FRESH
    checkpoint (overwrite semantics — no duplicate rows)."""
    import shutil

    from batch_processing_iac_aws_spark.streaming.pipeline import (
        run_continuous_rollup,
    )

    events = "/root/testdata/sf0.001/events.parquet"
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def snapshot():
        # the continuous rollup's table is a PLAIN dynamic-overwrite
        # parquet tree by design (per-key partition overwrite, not the
        # batch-partitioned ingest store) — read it bare
        return sorted(
            map(
                tuple,
                spark.read.parquet(table)
                .select("window_start_us", "event_type", "n_events", "sum_value")
                .collect(),
            )
        )

    run_continuous_rollup(spark, events, table, ckpt)
    first = snapshot()
    assert len(first) > 0

    run_continuous_rollup(spark, events, table, ckpt)  # bookmark no-op
    assert snapshot() == first

    shutil.rmtree(ckpt)  # full reprocess: overwrite, not append
    run_continuous_rollup(spark, events, table, ckpt)
    assert snapshot() == first


def test_streaming_ingest_dedup_exactly_once_across_restarts(spark, tmp_path):
    """Rolling ingest: three runs over a growing source. Run 2 must be a
    no-op (drained checkpoint); run 3 processes ONLY the new batch file
    and dedups it against the PERSISTED index from run 1 — duplicates of
    long-ingested documents never re-enter, and nothing ever appends
    twice."""
    import os

    src, table = str(tmp_path / "src"), str(tmp_path / "table")
    index, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    ingest = partial(ingest_dedup_batch, table_dir=table, index_dir=index)
    rows1 = [(1, "aaa"), (2, "bbb"), (3, "aaa")]  # 3 dups 1 in-batch
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.utime(f"{src}/{f}", (1_700_000_000, 1_700_000_000))
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 2]

    # drained re-run: checkpoint makes it a no-op
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert read_table(spark, table).count() == 2

    # new batch arrives: 4 dups batch-1's "aaa" (cross-RUN, via the
    # persisted index), 5 is new, 6 dups 5 within the batch
    rows2 = [(4, "aaa"), (5, "ccc"), (6, "ccc")]
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            p = f"{src}/{f}"
            if os.path.getmtime(p) < 1_700_000_001:
                continue
            os.utime(p, (1_700_000_060, 1_700_000_060))
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 2, 5]


def test_ingest_batch_replay_idempotent_after_partial_index_write(
    spark, tmp_path
):
    """The crash-window contract (module-level ingest_dedup_batch, the
    exact function foreachBatch runs): a batch crashes AFTER its index
    partition is (partially or fully) written but BEFORE the checkpoint
    commits, so the replay re-runs under the same batch_id. The replay
    must NOT anti-join against its own partial index partition — that
    would shrink the batch to the complement subset and permanently lose
    rows from both table and index."""
    table, index = str(tmp_path / "table"), str(tmp_path / "index")
    b0 = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb")], "doc_id long, text string"
    )
    ingest_dedup_batch(b0, 0, table_dir=table, index_dir=index)

    # batch 1: docs 3 (new), 4 (dup of batch-0's aaa), 5 (new).
    # Simulate the crash: batch 1's index partition already holds doc 3's
    # hash (the partial write, into the store's committed generation —
    # exactly what a crashed append_index leaves), then the replay runs
    # the full batch.
    import pyspark.sql.functions as F

    from batch_processing_iac_aws_spark.operators.index_store import (
        append_index,
        read_index,
    )

    partial_write = spark.createDataFrame(
        [(3, "ccc")], "doc_id long, text string"
    ).select(F.sha2("text", 256).alias("content_hash"))
    append_index(partial_write, index, batch_id=1)

    b1 = spark.createDataFrame(
        [(3, "ccc"), (4, "aaa"), (5, "ddd")], "doc_id long, text string"
    )
    ingest_dedup_batch(b1, 1, table_dir=table, index_dir=index)

    # doc 3 must SURVIVE the replay (its own partial index entry must not
    # kill it); doc 4 still dedups against batch 0's persisted hash
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 2, 3, 5]
    idx = read_index(spark, index)
    assert idx.count() == 4  # aaa,bbb from b0 + ccc,ddd from b1
    # and a SECOND full replay of the same batch is still a fixpoint
    ingest_dedup_batch(b1, 1, table_dir=table, index_dir=index)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 2, 3, 5]
    assert read_index(spark, index).count() == 4


def test_streaming_ann_ingest_builds_then_appends_exactly_once(
    spark, tmp_path
):
    """Streaming ANN maintenance: batch 0 trains the persisted index,
    later batches append map-only; a drained re-run is a checkpoint
    no-op (no duplicate assignments); a new batch file appends WITHOUT
    retraining centroids."""
    import os

    import pyspark.sql.functions as F

    from batch_processing_iac_aws_spark.operators.similarity import (
        ivf_assignments,
        read_ivf_centroids,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    ingest = partial(ingest_ann_batch, index_dir=idx, n_centroids=8)
    for b in range(2):
        emb.filter(F.col("vec_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    for i, f in enumerate(sorted(os.listdir(src))):
        if f.endswith(".parquet"):
            os.utime(f"{src}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))
    run_rolling_ingest(spark, src, ckpt, ingest)
    n2 = emb.filter(F.col("vec_id") % 3 != 2).count()
    assert ivf_assignments(spark, idx).count() == n2
    cents_before = read_ivf_centroids(spark, idx)

    # drained re-run: no-op
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert ivf_assignments(spark, idx).count() == n2

    # third batch arrives: appended map-only, centroids unchanged
    emb.filter(F.col("vec_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    newest = max(
        (f"{src}/{f}" for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    os.utime(newest, (1_700_000_100, 1_700_000_100))
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert ivf_assignments(spark, idx).count() == emb.count()
    assert read_ivf_centroids(spark, idx) == cents_before


def test_streaming_ann_retrain_replayed_across_checkpoint(spark, tmp_path):
    """Drift-triggered retrain THROUGH the streaming engine, then a
    checkpoint replay across the retrain boundary: batch 1 is
    out-of-distribution (one-dimension spike — cosine-far from every
    stored centroid at floor 0.95), so its micro-batch retrains and
    atomically commits generation gen-1; deleting the checkpoint's
    commits/1 marker simulates a crash AFTER the index commit but BEFORE
    the checkpoint commit, so the restarted stream re-delivers batch 1
    under the same batch_id. The replay must reconverge to the identical
    index — same CURRENT pointer, same centroids, same assignment count —
    not raise or duplicate (the staging-swap + batch-keyed-overwrite
    contract)."""
    import os

    from batch_processing_iac_aws_spark.operators.index_store import store_current
    from batch_processing_iac_aws_spark.operators.similarity import (
        ivf_assignments,
        read_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    ingest = partial(
        ingest_ann_batch, index_dir=idx, n_centroids=8,
        drift_floor=0.95, max_drift_frac=0.25,
    )
    emb.coalesce(1).write.mode("append").parquet(src)
    for i, f in enumerate(sorted(os.listdir(src))):
        if f.endswith(".parquet"):
            os.utime(f"{src}/{f}", (1_700_000_000 + i,) * 2)
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert os.path.basename(store_current(idx)) == "gen-0"
    cents_gen0 = read_ivf_centroids(spark, idx)

    dim = len(emb.first()["embedding"])
    spike = [0.0] * dim
    spike[0] = 100.0
    import pyspark.sql.functions as F

    ood = spark.createDataFrame(
        [(10_000 + i, [x * (1 + 0.001 * i) for x in spike]) for i in range(5)],
        "vec_id long, embedding array<double>",
    ).select(
        # match the source table's physical type — mixed float/double
        # files under one streaming source fail the vectorized reader
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
    )
    ood.coalesce(1).write.mode("append").parquet(src)
    newest = max(
        (f"{src}/{f}" for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    os.utime(newest, (1_700_000_100, 1_700_000_100))
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert os.path.basename(store_current(idx)) == "gen-1"  # retrained
    cents_after = read_ivf_centroids(spark, idx)
    assert cents_after != cents_gen0
    total = emb.count() + 5
    assert ivf_assignments(spark, idx).count() == total

    # crash window: index generation committed, checkpoint did not
    # (the .crc sidecar must go with the commit file — Hadoop's local
    # ChecksumFileSystem treats an orphaned CRC as concurrent modification)
    os.remove(f"{ckpt}/commits/1")
    crc = f"{ckpt}/commits/.1.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert os.path.basename(store_current(idx)) == "gen-1"
    assert read_ivf_centroids(spark, idx) == cents_after
    assert ivf_assignments(spark, idx).count() == total


def test_streaming_sparse_ingest_first_arrival_and_replay(spark, tmp_path):
    """The fifth-modality streaming composition: three ordered batch
    files; a word-REVERSED re-crawl in a later batch must drop against
    the persisted inverted index (the case exact hashing misses), new
    docs survive, a drained re-run is a checkpoint no-op, and a replayed
    batch (crash between index write and checkpoint commit, simulated by
    the module-level function with a partial own-partition write) is a
    fixpoint."""
    import os

    base_text = ("the quick brown fox jumps over the lazy dog and runs "
                 "far into the deep dark forest tonight")
    rev_text = " ".join(reversed(base_text.split()))
    rows = {
        0: [(0, base_text), (1, "spark shuffles partition data fast")],
        1: [(10, rev_text),              # permuted re-crawl of doc 0
            (11, "completely fresh words about parquet pruning")],
        2: [(20, base_text),             # exact re-crawl of doc 0
            (21, "another brand new document entirely different")],
    }
    src = str(tmp_path / "src")
    table, idx = str(tmp_path / "table"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    stamped: set = set()
    for b in range(3):
        spark.createDataFrame(
            rows[b], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        t = 1_700_000_000 + b * 60
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in stamped:
                os.utime(f"{src}/{f}", (t, t))
                stamped.add(f)
    ingest = partial(
        ingest_sparse_batch,
        table_dir=table, index_dir=idx, dim=1 << 12, threshold=0.95,
    )
    run_rolling_ingest(spark, src, ckpt, ingest)
    got = sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    )
    # 10 (permuted) and 20 (exact) both dedup against doc 0's vectors
    assert got == [0, 1, 11, 21]

    # drained re-run: checkpoint no-op
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]

    # crash-window replay: batch 1's index partition already holds doc
    # 11's vectors (partial write), then the full batch replays under
    # the same batch_id — doc 11 must SURVIVE (its own partial entry
    # must not kill it at cosine 1.0) and doc 10 still drops vs batch 0
    from batch_processing_iac_aws_spark.operators.text import (
        hashed_doc_vectors,
    )

    from batch_processing_iac_aws_spark.operators.index_store import (
        append_index,
    )

    partial_write = hashed_doc_vectors(
        spark.createDataFrame(
            [(11, "completely fresh words about parquet pruning")],
            "doc_id long, text string",
        ),
        dim=1 << 12,
    )
    append_index(partial_write, idx, batch_id=1)
    b1 = spark.createDataFrame(rows[1], "doc_id long, text string")
    ingest_sparse_batch(
        b1, 1, table_dir=table, index_dir=idx, dim=1 << 12,
        threshold=0.95,
    )
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]
    # and a second full replay is still a fixpoint
    ingest_sparse_batch(
        b1, 1, table_dir=table, index_dir=idx, dim=1 << 12,
        threshold=0.95,
    )
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]


def test_ingest_quality_batch_gates_dedups_and_replays_idempotently(
    spark, tmp_path
):
    """The seventh composition's micro-batch contract
    (ingest_quality_batch, the exact function foreachBatch runs):
    (a) the quality gate drops logit<0 docs BEFORE dedup and they never
    enter table or index; (b) survivors exact-dedup within batch and vs
    the persisted index of earlier GATED survivors; (c) the crash window
    replays to a fixpoint (own partial index partition excluded). Weights
    are chosen so the gate is a simple token-count threshold the test can
    reason about exactly: logit = n_tokens - 3 (>=0 iff >= 3 tokens)."""
    import pyspark.sql.functions as F

    from batch_processing_iac_aws_spark.streaming.pipeline import (
        ingest_quality_batch,
    )

    w = {"bias": -3.0, "n_tokens": 1.0}
    table, index = str(tmp_path / "t"), str(tmp_path / "i")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "too short")],
        "doc_id long, text string",
    )
    ingest_quality_batch(b0, 0, table_dir=table, index_dir=index, weights=w)
    got0 = read_table(spark, table).collect()
    # doc 2 (2 tokens, logit -1) gated out
    assert sorted(r["doc_id"] for r in got0) == [1]
    assert all(r["quality_logit"] >= 0 for r in got0)

    # batch 1: 3 = dup of gated-out doc 2 (must INGEST: 2 never entered
    # the index, and 3 itself still fails the gate -> actually 3 has the
    # same text so it gates out too), 4 = dup of doc 1 (dedups), 5 = new
    # passing doc, 6 = within-batch dup of 5 (higher id drops)
    b1 = spark.createDataFrame(
        [
            (3, "too short"),
            (4, "alpha beta gamma delta"),
            (5, "one two three four five"),
            (6, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    # crash window: 5's hash already in batch 1's partial index partition
    from batch_processing_iac_aws_spark.operators.index_store import (
        append_index,
        read_index,
    )

    partial_write = spark.createDataFrame(
        [(5, "one two three four five")], "doc_id long, text string"
    ).select(F.sha2("text", 256).alias("content_hash"))
    append_index(partial_write, index, batch_id=1)
    ingest_quality_batch(b1, 1, table_dir=table, index_dir=index, weights=w)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 5]
    # replay is a fixpoint
    ingest_quality_batch(b1, 1, table_dir=table, index_dir=index, weights=w)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [1, 5]
    assert read_index(spark, index).count() == 2


def test_streaming_ann_ingest_continues_after_compaction(spark, tmp_path):
    """Compaction mid-stream: two streamed batches build the index
    (batch_seq {0,1}), an offline compact_ivf_index(upto_batch=1) merges
    them under gen-c1 with search results bit-identical, and the RESUMED
    stream keeps ingesting — the next micro-batch's replay-stable id (2)
    clears the persisted watermark, appends map-only into the compacted
    generation, and a simulated crash replay (checkpoint commit marker
    for batch 2 deleted) reconverges idempotently instead of duplicating
    or tripping the watermark guard."""
    import os

    import pyspark.sql.functions as F

    from batch_processing_iac_aws_spark.operators.index_store import store_current
    from batch_processing_iac_aws_spark.operators.similarity import (
        compact_ivf_index,
        ivf_assignments,
        ivf_index_topk,
        read_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    ingest = partial(ingest_ann_batch, index_dir=idx, n_centroids=8)
    for b in range(2):
        emb.filter(F.col("vec_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    for i, f in enumerate(sorted(os.listdir(src))):
        if f.endswith(".parquet"):
            os.utime(f"{src}/{f}", (1_700_000_000 + i,) * 2)
    run_rolling_ingest(spark, src, ckpt, ingest)
    q = emb.filter(F.col("vec_id") < 10)

    def topk():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_index_topk(spark, q, idx, k=5, n_probe=4).collect()
        )

    pre = topk()
    cents = read_ivf_centroids(spark, idx)
    audit = compact_ivf_index(spark, idx, upto_batch=1)
    assert audit["batches_before"] == 2 and audit["batches_after"] == 1
    assert os.path.basename(store_current(idx)) == "gen-c1"
    assert topk() == pre and len(pre) > 0

    # the stream resumes: batch id 2 clears the watermark and appends
    # map-only into the compacted generation
    emb.filter(F.col("vec_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    newest = max(
        (f"{src}/{f}" for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    os.utime(newest, (1_700_000_100,) * 2)
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert ivf_assignments(spark, idx).count() == emb.count()
    assert read_ivf_centroids(spark, idx) == cents
    assert os.path.basename(store_current(idx)) == "gen-c1"
    seqs = sorted(
        r["batch_seq"]
        for r in ivf_assignments(spark, idx)
        .select("batch_seq").distinct().collect()
    )
    assert seqs == [1, 2]

    # crash replay of batch 2 across the compaction boundary
    os.remove(f"{ckpt}/commits/2")
    crc = f"{ckpt}/commits/.2.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert ivf_assignments(spark, idx).count() == emb.count()


def test_streaming_fuzzy_ingest_first_arrival_and_replay(spark, tmp_path):
    """The ninth composition: three ordered batch files; a one-word-
    appended re-crawl in a later batch must drop against the persisted
    MinHash signature index (the case exact hashing misses), new docs
    survive, a drained re-run is a checkpoint no-op, a replayed batch
    (crash between index write and checkpoint commit) is a fixpoint,
    and after compaction a replay of a merged-away batch refuses before
    any write."""
    import os

    import pytest as _pytest

    from batch_processing_iac_aws_spark.operators.dedup import (
        minhash_signatures,
    )
    from batch_processing_iac_aws_spark.operators.index_store import (
        append_index,
        compact_index,
    )

    base_text = ("the quick brown fox jumps over the lazy dog and runs "
                 "far into the deep dark forest tonight looking for food")
    near_text = base_text + " again"   # J = (w-2)/(w-1) ~ 0.95 >= 0.9
    rows = {
        0: [(0, base_text), (1, "spark shuffles partition data fast")],
        1: [(10, near_text),             # near-dup re-crawl of doc 0
            (11, "completely fresh words about parquet pruning today")],
        2: [(20, base_text),             # exact re-crawl of doc 0
            (21, "another brand new document entirely different here")],
    }
    src = str(tmp_path / "src")
    table, idx = str(tmp_path / "table"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    ingest = partial(ingest_fuzzy_batch, table_dir=table, index_dir=idx)
    stamped: set = set()
    for b in range(3):
        spark.createDataFrame(
            rows[b], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        t = 1_700_000_000 + b * 60
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in stamped:
                os.utime(f"{src}/{f}", (t, t))
                stamped.add(f)
    run_rolling_ingest(spark, src, ckpt, ingest)
    got = sorted(r["doc_id"] for r in read_table(spark, table).collect())
    # 10 (near-dup) and 20 (exact, J=1.0) both drop against doc 0
    assert got == [0, 1, 11, 21]

    # drained re-run: checkpoint no-op
    run_rolling_ingest(spark, src, ckpt, ingest)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]

    # crash-window replay: batch 1's index partition already holds doc
    # 11's signature (partial write), then the full batch replays under
    # the same batch_id — doc 11 must SURVIVE (its own partial entry
    # must not kill it at Jaccard 1.0) and doc 10 still drops vs batch 0
    partial_write = minhash_signatures(
        spark.createDataFrame(
            [(11, "completely fresh words about parquet pruning today")],
            "doc_id long, text string",
        )
    ).select("doc_id", "sig")
    append_index(partial_write, idx, batch_id=1)
    b1 = spark.createDataFrame(rows[1], "doc_id long, text string")
    ingest_fuzzy_batch(b1, 1, table_dir=table, index_dir=idx)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]
    # compaction interplay: merge batches 0-1, replay of batch 1 refuses
    # BEFORE any write, and a fresh batch still dedups correctly
    audit = compact_index(spark, idx, upto_batch=1)
    assert audit["batches_after"] == 2  # {0,1} merged + batch 2
    with _pytest.raises(ValueError, match="watermark"):
        ingest_fuzzy_batch(b1, 1, table_dir=table, index_dir=idx)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21]
    b3 = spark.createDataFrame(
        [(30, near_text + " more"), (31, "wholly novel text body words")],
        "doc_id long, text string",
    )
    ingest_fuzzy_batch(b3, 3, table_dir=table, index_dir=idx)
    assert sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    ) == [0, 1, 11, 21, 31]


def test_streaming_ingest_auto_compacts_between_batches(spark, tmp_path):
    """auto_compact_batches fuses the threshold-gated OPTIMIZE loop into
    the checkpointed ingest: with a threshold of 1, batch N's trigger
    first merges everything at or below N-1 on BOTH stores, so the
    drained state ends with the history merged and only the newest batch
    in its own partition — with survivors identical to the un-maintained
    run and per-row ingest_batch lineage intact."""
    import glob as _glob
    import os
    import shutil
    import time

    from batch_processing_iac_aws_spark.operators.index_store import (
        read_index,
        store_current,
        store_watermark,
    )

    src, stage = str(tmp_path / "src"), str(tmp_path / "stage")
    table, idx, ckpt = (
        str(tmp_path / "table"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    batches = [
        [(0, "alpha"), (1, "beta")],
        [(10, "alpha"), (11, "gamma")],
        [(20, "gamma"), (21, "delta")],
    ]
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        p = f"{stage}/b{i}"
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(p)
        f = _glob.glob(f"{p}/*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    run_rolling_ingest(
        spark, src, ckpt,
        partial(ingest_dedup_batch, table_dir=table, index_dir=idx),
        stores=(table, idx), auto_compact_batches=1,
    )
    # first-arrival survivors, lineage intact
    assert sorted(
        (r["doc_id"], r["ingest_batch"])
        for r in read_table(spark, table).collect()
    ) == [(0, 0), (1, 0), (11, 1), (21, 2)]
    # before batch 2 ran, batches 0-1 exceeded the threshold and merged:
    # both stores carry watermark 1 and exactly 2 batch partitions
    for store in (table, idx):
        assert store_watermark(store_current(store)) == 1, store
    assert sorted(
        r["batch_seq"]
        for r in read_table(spark, table)
        .select("batch_seq")
        .distinct()
        .collect()
    ) == [1, 2]
    assert read_index(spark, idx).count() == 4


def test_fuzzy_ingest_auto_compacts_between_batches(spark, tmp_path):
    """The shared _maybe_auto_compact hook through the FUZZY ingest (the
    composition whose history verify reads the table store point-wise):
    merged history must still serve the banded join + exact-Jaccard
    verify — a near-dup re-crawl of a batch-0 doc arriving in batch 2
    drops against the COMPACTED history."""
    import glob as _glob
    import os
    import shutil
    import time

    from batch_processing_iac_aws_spark.operators.index_store import (
        store_current,
        store_watermark,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog and runs far into "
        "the deep dark forest tonight again and again without any rest"
    )
    src, stage = str(tmp_path / "src"), str(tmp_path / "stage")
    table, idx, ckpt = (
        str(tmp_path / "table"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    batches = [
        [(0, base_text), (1, "completely unrelated words about parquet")],
        [(10, "another fresh document with brand new content entirely")],
        [(20, base_text + " zz"), (21, "final genuinely novel text")],
    ]
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        p = f"{stage}/b{i}"
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(p)
        f = _glob.glob(f"{p}/*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    run_rolling_ingest(
        spark, src, ckpt,
        partial(ingest_fuzzy_batch, table_dir=table, index_dir=idx),
        stores=(table, idx), auto_compact_batches=1,
    )
    from batch_processing_iac_aws_spark.operators.index_store import (
        read_table,
    )

    got = sorted(
        r["doc_id"] for r in read_table(spark, table).collect()
    )
    # doc 20 is a one-word-appended re-crawl of doc 0 (J ~ 0.96) and
    # must drop against the MERGED batch-0/1 history
    assert got == [0, 1, 10, 21]
    for store in (table, idx):
        assert store_watermark(store_current(store)) == 1, store
