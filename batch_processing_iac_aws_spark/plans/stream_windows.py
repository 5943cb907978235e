"""Time-window aggregation surface (SURVEY.md §2B streaming): tumbling,
sliding, and session windows over `events` — the same F.window /
F.session_window operators Structured Streaming uses, here verified in batch
against gaps-and-islands SQL oracles. `streaming_tumbling` additionally runs
the REAL streaming path (readStream + Trigger.AvailableNow + memory sink)
and must produce byte-identical results to the batch oracle — the
exactly-once replacement for the reference's cron + Glue-bookmark pattern
(batch_processing_IaC.py:301,:388)."""

from __future__ import annotations

import uuid
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..io import read_parquet
from ..streaming.pipeline import (
    drain_to_memory,
    ingest_dedup_batch,
    run_rolling_ingest,
)
from .registry import ORACLES, money_sum, query, scratch_dir

_HOUR_US = 3_600_000_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def survivor_digest(df: DataFrame) -> "tuple[int, int]":
    """Order-insensitive multiset digest of a store table's survivor
    rows — count + decimal-summed xxhash64 of the (doc_id,
    content_hash, ingest_batch) struct (decimal so a 100 TB corpus's
    sum cannot overflow the ANSI long). THE gate-audit compare for
    store-backed composition rows (shared with plans/staged.py's
    snapshot row): two scalar rows on the driver at any corpus size,
    the layout_audit discipline — never a table collect."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(
                F.struct("doc_id", "content_hash", "ingest_batch")
            ).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] if r["h"] is not None else 0)


_TUMBLING_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("window_tumbling", oracle=_TUMBLING_ORACLE)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "window_start_us"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "window_sliding",
    oracle="""
WITH offsets AS (SELECT unnest([0, 1800000000]) AS off),
assigned AS (
    SELECT ((epoch_us(e.ts) - o.off) // 3600000000) * 3600000000 + o.off
               AS window_start_us,
           e.value
    FROM events e CROSS JOIN offsets o
)
SELECT window_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM assigned GROUP BY window_start_us
""",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 h windows sliding every 30 min: each event lands in 2 windows; the
    oracle reproduces Spark's epoch-aligned window assignment."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "window_start_us"
            ),
            "n_events",
            "sum_value",
        )
    )


@query(
    "window_session",
    oracle="""
WITH o AS (
    SELECT user_id, ts, event_id, epoch_us(ts) AS us,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000 THEN 1
                ELSE 0 END AS new_session
    FROM events
    -- event_id tiebreaker: two events of one user at the SAME microsecond
    -- must order identically in this window and the running sum below, or
    -- a tied row at a session boundary lands in the wrong session
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, us,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM o
)
SELECT user_id,
       min(us) AS session_start_us,
       max(us) AS last_event_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
""",
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10 min inactivity gap) per user via
    F.session_window; oracle is the classic gaps-and-islands formulation.
    Spark merges events strictly less than `gap` apart (window is
    [start, last+gap)), hence `>=` in the oracle's new-session test."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("last_ts").cast("timestamp")).alias(
                "last_event_us"
            ),
            "n_events",
        )
    )


@query(
    "streaming_dedup",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup through the REAL streaming engine:
    dropDuplicatesWithinWatermark over (user_id, event_type), keys-only
    projection so the surviving-copy choice (scheduling-dependent) can't
    leak into the result — output is exactly the distinct key set."""
    from ..streaming.pipeline import dedup_within_watermark, events_stream

    stream = events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    deduped = dedup_within_watermark(
        stream, keys=["user_id", "event_type"], delay="24 hours"
    ).select("user_id", "event_type")
    return drain_to_memory(
        deduped, prefix="sd", output_mode="append"
    )


@query(
    "streaming_stateful_totals",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 4) AS sum_value
FROM events GROUP BY user_id
""",
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator through the real streaming engine:
    applyInPandasWithState keeps per-user running totals in group state.
    A single AvailableNow batch over one parquet file emits exactly one
    row per user — the final totals — so the batch groupBy is the oracle."""
    from ..streaming.pipeline import events_stream
    from ..streaming.stateful import running_user_totals

    stream = events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    totals = running_user_totals(stream)
    return drain_to_memory(
        totals, prefix="st", output_mode="update"
    ).select(
        "user_id", "n_events", F.round("sum_value", 4).alias("sum_value")
    )


@query("streaming_tumbling", oracle=_TUMBLING_ORACLE)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation executed through Structured Streaming:
    file source -> watermark -> windowed agg -> memory sink, drained with
    Trigger.AvailableNow (the engine-native replacement for cron + Glue
    bookmarks). Same oracle as the batch version: streaming and batch MUST
    agree."""
    from ..streaming.pipeline import run_available_now_aggregation

    return run_available_now_aggregation(
        spark, f"{sf_dir.rstrip('/')}/events.parquet", name=f"st_{uuid.uuid4().hex[:8]}"
    )


@query("streaming_rollup", oracle=_TUMBLING_ORACLE)
def streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate through a REAL file sink: update-mode streaming
    rollup merged into a partitioned parquet table via foreachBatch +
    dynamic partition overwrite (streaming/pipeline.py:run_continuous_rollup
    — the hypertable-rollup pattern). The read-back table must equal the
    batch oracle exactly; idempotent restart covered in
    tests/test_streaming.py."""

    from ..streaming.pipeline import run_continuous_rollup

    base = scratch_dir("rollup", sf_dir)
    run_continuous_rollup(
        spark,
        f"{sf_dir.rstrip('/')}/events.parquet",
        f"{base}/table",
        f"{base}/ckpt",
    )
    return spark.read.parquet(f"{base}/table").select(
        F.col("window_start_us").cast("long").alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


_SESSION_ORACLE = ORACLES["window_session"]


@query("streaming_session", oracle=_SESSION_ORACLE)
def streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through the REAL streaming engine (watermark +
    session_window + AvailableNow): must agree with the batch
    window_session query and its gaps-and-islands oracle."""
    from ..streaming.pipeline import run_available_now_sessions

    return run_available_now_sessions(
        spark,
        f"{sf_dir.rstrip('/')}/events.parquet",
        name=f"ss_{uuid.uuid4().hex[:8]}",
    )


@query(
    "streaming_join_static",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type,
       round(e.value, 2) AS value, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def streaming_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to the
    customer dimension loaded as a plain batch frame. The static side is
    re-planned per micro-batch (so a dimension refresh is picked up without
    restarting the query) and, being dimension-sized, rides the broadcast
    threshold — the streaming side never shuffles. Oracle: the same join in
    batch SQL; every event row must survive enrichment identically."""
    from ..streaming.pipeline import events_stream

    stream = events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(dim, stream.user_id == dim.c_custkey).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        "c_mktsegment",
    )
    return drain_to_memory(
        joined, prefix="sj", output_mode="append"
    )


@query(
    "streaming_join_stream",
    oracle="""
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(v.ts)
 AND epoch_us(p.ts) <= epoch_us(v.ts) + 21600000000
""",
)
def streaming_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range bound: views
    matched to same-user purchases within the following 6 hours. Both sides
    carry watermarks and the join predicate bounds event time on both
    sides, so the state store evicts rows once the watermark passes
    view_ts + 6h — bounded state at any scale, the non-negotiable
    requirement for a 100 TB stream-stream join. Oracle: the identical
    self-join in batch SQL."""
    from ..streaming.pipeline import events_stream

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    views = (
        events_stream(spark, path)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 6 HOURS")),
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    return drain_to_memory(
        joined, prefix="ss", output_mode="append"
    )


_SLIDING_ORACLE = ORACLES["window_sliding"]


@query("streaming_sliding", oracle=_SLIDING_ORACLE)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows through the streaming engine (watermark + overlap
    assignment + AvailableNow, complete mode): completes the streaming
    window trio (tumbling / sliding / session), each agreeing exactly with
    its batch twin's oracle."""
    from ..streaming.pipeline import events_stream

    stream = events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias(
                "window_start_us"
            ),
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(
        agg, prefix="sl", output_mode="complete"
    )


def _write_ordered_batch_files(d, cache: str, src: str) -> None:
    """Write a decorated corpus as three ordered batch files (doc_id % 3,
    mtimes forced so file order IS batch order for maxFilesPerTrigger=1)
    and drop the cache sentinel — the one writer both decorated ingest
    sources share, so the mtime-ordering invariant lives in one place."""
    import glob as _glob
    import os

    stamped: set[str] = set()
    for b in range(3):
        (
            d.filter(F.col("doc_id") % 3 == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        t = 1_700_000_000 + b * 60
        for f in _glob.glob(f"{src}/*.parquet"):
            if f not in stamped:
                os.utime(f, (t, t))
                stamped.add(f)
    with open(f"{cache}/_BUILT", "w") as fh:
        fh.write("ok")


def _dup_decorated_ingest_source(spark: SparkSession, sf_dir: str) -> str:
    """Shared TEST SCAFFOLDING for the exact-hash streaming-ingest
    queries: the documents corpus decorated with deterministic cross-batch
    EXACT duplicates (every doc_id ending in 7 copies the text of
    doc_id-7, which lands in a different doc_id%3 batch class), written as
    three ordered batch files (mtimes forced so file order IS batch
    order) and CACHED per process (scratch_source_cache) — bench's warm
    iterations measure the streaming ingest, not corpus prep. Used by
    streaming_incremental_dedup and streaming_quality_ingest, whose
    oracles restate the same decoration."""
    from .registry import scratch_source_cache

    cache, built = scratch_source_cache("ingest_src", sf_dir)
    src = f"{cache}/src"
    if built:
        return src
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    donor = docs.select(
        (F.col("doc_id") + 7).alias("doc_id"),
        F.col("text").alias("__dup_text"),
    )
    d = docs.join(donor, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 10 == 7) & F.col("__dup_text").isNotNull(),
            F.col("__dup_text"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    _write_ordered_batch_files(d, cache, src)
    return src


from .quality import _LOGIT_SQL  # noqa: E402  (None on worker-zip imports)

_QUALITY_FEATS_SQL = """
    SELECT doc_id, text,
           CAST(len(toks) AS INT) AS n_tokens,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 4)
               AS uniq_ratio,
           round(list_reduce([CAST(length(x) AS BIGINT) FOR x IN toks],
                             (a, b) -> a + b) * 1.0 / len(toks), 4)
               AS avg_token_len
    FROM (SELECT doc_id, text,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM src)
"""


@query(
    "streaming_quality_ingest",
    oracle=None if _LOGIT_SQL is None else f"""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
), f AS ({_QUALITY_FEATS_SQL}
), k AS (
  SELECT doc_id, text, {_LOGIT_SQL} AS logit FROM f WHERE {_LOGIT_SQL} >= 0
)
SELECT d.doc_id, sha256(d.text) AS content_hash,
       round(d.logit, 6) AS quality_logit
FROM k d
WHERE NOT EXISTS (
  SELECT 1 FROM k h
  WHERE sha256(h.text) = sha256(d.text)
    AND (h.doc_id % 3 < d.doc_id % 3
         OR (h.doc_id % 3 = d.doc_id % 3 AND h.doc_id < d.doc_id)))
""",
)
def streaming_quality_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEVENTH streaming composition — the quality gate FUSED into
    the rolling ingest (streaming/pipeline.py:ingest_quality_batch),
    which is the pass a real pretraining pipeline runs: each
    micro-batch scores quality_features -> the weights-as-data logit at
    the scan, drops ``logit < 0`` docs map-only BEFORE anything shuffles,
    exact-dedups the survivors within-batch and against the persisted
    fingerprint index of earlier GATED survivors, and appends
    (id, hash, logit) + digests under the exactly-once contract
    (checkpointed sequencing, replay-stable batch-keyed overwrites,
    own-partition exclusion). The oracle composes the quality_logit_score
    twin (same weights file, same fold order, tie-free 6dp) with the
    first-arrival fixpoint over the GATED set — valid as one fixpoint
    because identical text implies identical logit, so a dropped-by-gate
    doc can never have been the index entry that should have caught a
    later duplicate. Shares the cached three-batch duplicate-decorated
    source with streaming_incremental_dedup; table/index/checkpoint
    rebuild per call under the wiped scratch_dir."""
    from ..operators.quality import load_quality_weights
    from ..streaming.pipeline import ingest_quality_batch
    from .registry import fixture_path

    base = scratch_dir("qingest", sf_dir)
    src = _dup_decorated_ingest_source(spark, sf_dir)
    w = load_quality_weights(fixture_path("quality_weights.tsv"))
    run_rolling_ingest(spark, src, f"{base}/ckpt", partial(
        ingest_quality_batch,
        table_dir=f"{base}/table", index_dir=f"{base}/index", weights=w,
    ))
    from ..operators.index_store import read_table

    return read_table(spark, f"{base}/table").select(
        "doc_id", "content_hash", "quality_logit"
    )


@query(
    "streaming_incremental_sparse",
    oracle="""
WITH deco AS (
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
                THEN array_to_string(
                         list_reverse(string_split(d7.text, ' ')), ' ')
                ELSE d.text END AS text
    FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
    WHERE d.doc_id < 1000
), firsts AS (
    -- within-batch exact-hash dedup: keep the lowest id per text
    SELECT doc_id, text, doc_id % 3 AS b
    FROM deco d
    WHERE NOT EXISTS (
        SELECT 1 FROM deco e
        WHERE e.doc_id % 3 = d.doc_id % 3
          AND e.text = d.text AND e.doc_id < d.doc_id)
), counts AS (
    SELECT doc_id AS id, doc_id % 3 AS b,
           CAST(md5_number_lower(t.tok) % 4096 AS BIGINT) AS idx,
           CAST(count(*) AS BIGINT) AS c
    FROM firsts,
         UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS t(tok)
    GROUP BY id, b, idx
), norms AS (
    SELECT id, SUM(c * c) AS n2 FROM counts GROUP BY id
), s0 AS (
    SELECT doc_id FROM firsts WHERE b = 0
), pairs1 AS (
    SELECT q.id AS qid, h.id AS hid, SUM(q.c * h.c) AS dp
    FROM counts q JOIN counts h USING (idx)
    WHERE q.b = 1 AND h.id IN (SELECT doc_id FROM s0)
    GROUP BY q.id, h.id
), dup1 AS (
    SELECT DISTINCT p.qid FROM pairs1 p
    JOIN norms nq ON nq.id = p.qid JOIN norms nh ON nh.id = p.hid
    WHERE p.dp >= 0.95 * sqrt(nq.n2 * nh.n2)
), s1 AS (
    SELECT doc_id FROM firsts
    WHERE b = 1 AND doc_id NOT IN (SELECT qid FROM dup1)
), pairs2 AS (
    SELECT q.id AS qid, h.id AS hid, SUM(q.c * h.c) AS dp
    FROM counts q JOIN counts h USING (idx)
    WHERE q.b = 2 AND h.id IN (SELECT doc_id FROM s0
                               UNION ALL SELECT doc_id FROM s1)
    GROUP BY q.id, h.id
), dup2 AS (
    SELECT DISTINCT p.qid FROM pairs2 p
    JOIN norms nq ON nq.id = p.qid JOIN norms nh ON nh.id = p.hid
    WHERE p.dp >= 0.95 * sqrt(nq.n2 * nh.n2)
), s2 AS (
    SELECT doc_id FROM firsts
    WHERE b = 2 AND doc_id NOT IN (SELECT qid FROM dup2)
)
SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch_seq
FROM (SELECT doc_id FROM s0 UNION ALL
      SELECT doc_id FROM s1 UNION ALL
      SELECT doc_id FROM s2)
""",
)
def streaming_incremental_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIXTH streaming composition — rolling-corpus ingestion with
    LEXICAL-COSINE dedup through the REAL streaming engine
    (streaming/pipeline.py:ingest_sparse_batch): documents arrive
    as three ordered batch files (doc_id % 3, mtimes forced so file order
    IS batch order); each micro-batch keeps the lowest id per exact
    content hash within itself, drops docs whose hashed-BoW cosine
    against the PERSISTED inverted index of earlier-batch SURVIVORS
    reaches 0.95 (word-permuted re-crawls MinHash shingles score near
    zero — the fixture plants one per id ending in 7, word-reversed from
    id-7, which lands in a different batch class), and appends survivors
    + sparse vectors under checkpointed batch-keyed dynamic overwrites.
    The oracle replays the first-arrival FIXPOINT batch-by-batch (cosine
    is not transitive, so unlike the sha256 pipeline the oracle must
    thread each batch against the surviving index, not all earlier docs)
    — the hash match proves checkpointed sequencing, the index
    round-trip, the own-partition exclusion, and the integer-exact
    scoring compose end-to-end. doc_id < 1000 bounds the adversarial
    31-word-vocabulary pair volume exactly as dedup_incremental_sparse
    documents. Source files are CACHED per process
    (scratch_source_cache); table/index/checkpoint rebuild per call under
    the wiped scratch_dir so every invocation exercises the full
    three-batch pipeline."""
    import glob as _glob
    import os

    from ..streaming.pipeline import ingest_sparse_batch
    from .registry import scratch_source_cache

    base = scratch_dir("sparsestream", sf_dir)
    cache, built = scratch_source_cache("sparsestream_src", sf_dir)
    src = f"{cache}/src"
    if not built:
        docs = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 1000)
            .select("doc_id", "text")
        )
        donor = docs.select(
            (F.col("doc_id") + 7).alias("doc_id"),
            F.concat_ws(
                " ", F.reverse(F.split(F.col("text"), " "))
            ).alias("__rev_text"),
        )
        d = docs.join(donor, "doc_id", "left").select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 7) & F.col("__rev_text").isNotNull(),
                F.col("__rev_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        stamped: set[str] = set()
        for b in range(3):
            (
                d.filter(F.col("doc_id") % 3 == b)
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            t = 1_700_000_000 + b * 60
            for f in _glob.glob(f"{src}/*.parquet"):
                if f not in stamped:
                    os.utime(f, (t, t))
                    stamped.add(f)
        with open(f"{cache}/_BUILT", "w") as fh:
            fh.write("ok")
    run_rolling_ingest(spark, src, f"{base}/ckpt", partial(
        ingest_sparse_batch, table_dir=f"{base}/table",
        index_dir=f"{base}/index", dim=4096, threshold=0.95,
    ))
    from ..operators.index_store import read_table

    return read_table(spark, f"{base}/table").select(
        "doc_id", F.col("batch_seq").cast("int").alias("batch_seq")
    )


@query(
    "streaming_incremental_dedup",
    oracle="""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
)
SELECT d.doc_id, sha256(d.text) AS content_hash
FROM src d
WHERE NOT EXISTS (
  SELECT 1 FROM src h
  WHERE sha256(h.text) = sha256(d.text)
    AND (h.doc_id % 3 < d.doc_id % 3
         OR (h.doc_id % 3 = d.doc_id % 3 AND h.doc_id < d.doc_id)))
""",
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-corpus ingestion end-to-end through the REAL streaming
    engine: documents arrive as three ordered batch files (doc_id % 3,
    modification times forced so file order IS batch order), each
    micro-batch dedups within itself (keep lowest id per sha256) and
    against the persisted fingerprint index of all earlier batches, and
    appends survivors + digests via deterministic batch-keyed partition
    overwrite (streaming/pipeline.py:ingest_dedup_batch). The
    oracle states the fixpoint directly: a document survives iff no
    earlier-batch (or same-batch lower-id) document shares its hash —
    so the hash match proves checkpointed batch sequencing, the index
    round-trip, and the anti-join compose to exactly first-arrival
    semantics. The per-batch single-file writes and the deterministic
    duplicate injection here are TEST SCAFFOLDING building the stream
    source, not the operator — and the source is CACHED across
    invocations within the process (scratch_source_cache), so bench's
    warm iterations measure the streaming ingest, not corpus prep; the
    table/index/checkpoint stay under the per-call wiped scratch_dir so
    every invocation exercises the full three-batch pipeline."""
    base = scratch_dir("ingest", sf_dir)
    # deterministic cross-batch duplicate decoration + three ordered batch
    # files, cached per process — shared with streaming_quality_ingest
    # (_dup_decorated_ingest_source)
    src = _dup_decorated_ingest_source(spark, sf_dir)
    run_rolling_ingest(spark, src, f"{base}/ckpt", partial(
        ingest_dedup_batch,
        table_dir=f"{base}/table", index_dir=f"{base}/index",
    ))
    from ..operators.index_store import read_table

    return read_table(spark, f"{base}/table").select(
        "doc_id", "content_hash"
    )


def _fuzzy_decorated_ingest_source(spark: SparkSession, sf_dir: str) -> str:
    """Three mtime-ordered batch files (doc_id % 3) of documents
    decorated with NEAR-duplicate re-crawls: doc_id % 10 == 7 serves
    doc_id-7's text plus one appended word — shingle Jaccard (w-2)/(w-1)
    against the donor, >= 0.9 for any doc of >= 12 words, so the fuzzy
    match path provably fires where exact hashing sees a new document.
    Donors land in a DIFFERENT batch than their re-crawls (id-7 vs id
    mod 3 never match), sometimes a LATER one — the fixpoint handles
    both directions. Capped at doc_id < 1000 so the exhaustive-Jaccard
    oracle stays feasible at every SF (the streaming_incremental_sparse
    convention). Cached per process (scratch_source_cache)."""
    from .registry import scratch_source_cache

    cache, built = scratch_source_cache("ingest_fuzzy_src", sf_dir)
    src = f"{cache}/src"
    if built:
        return src
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "text")
    )
    donor = docs.select(
        (F.col("doc_id") + 7).alias("doc_id"),
        F.col("text").alias("__near_text"),
    )
    d = docs.join(donor, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 10 == 7) & F.col("__near_text").isNotNull(),
            F.concat(F.col("__near_text"), F.lit(" zz7suffix")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    _write_ordered_batch_files(d, cache, src)
    return src


@query(
    "streaming_fuzzy_ingest",
    oracle=r"""
WITH deco AS (
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
                THEN d7.text || ' zz7suffix'
                ELSE d.text END AS text
    FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
    WHERE d.doc_id < 1000
), firsts AS (
    SELECT doc_id, text, doc_id % 3 AS b
    FROM deco d
    WHERE NOT EXISTS (
        SELECT 1 FROM deco e
        WHERE e.doc_id % 3 = d.doc_id % 3
          AND e.text = d.text AND e.doc_id < d.doc_id)
), sh AS (
    SELECT doc_id, b,
           CASE WHEN len(words) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(words) - 2),
                         i -> array_to_string(words[i:i+2], ' ')))
                ELSE [array_to_string(words, ' ')] END AS s
    FROM (SELECT doc_id, b,
                 string_split(regexp_replace(lower(text), '\s+', ' ', 'g'),
                              ' ') AS words
          FROM firsts)
), s0 AS (
    SELECT doc_id FROM firsts WHERE b = 0
), dup1 AS (
    SELECT DISTINCT q.doc_id
    FROM sh q JOIN sh h ON q.b = 1 AND h.b = 0
    WHERE round(len(list_intersect(q.s, h.s)) * 1.0
          / len(list_distinct(list_concat(q.s, h.s))), 4) >= 0.9
), s1 AS (
    SELECT doc_id FROM firsts
    WHERE b = 1 AND doc_id NOT IN (SELECT doc_id FROM dup1)
), dup2 AS (
    SELECT DISTINCT q.doc_id
    FROM sh q JOIN sh h
      ON q.b = 2
     AND ((h.b = 0 AND h.doc_id IN (SELECT doc_id FROM s0))
          OR (h.b = 1 AND h.doc_id IN (SELECT doc_id FROM s1)))
    WHERE round(len(list_intersect(q.s, h.s)) * 1.0
          / len(list_distinct(list_concat(q.s, h.s))), 4) >= 0.9
), s2 AS (
    SELECT doc_id FROM firsts
    WHERE b = 2 AND doc_id NOT IN (SELECT doc_id FROM dup2)
)
SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch_seq
FROM (SELECT doc_id FROM s0 UNION ALL
      SELECT doc_id FROM s1 UNION ALL
      SELECT doc_id FROM s2)
""",
)
def streaming_fuzzy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NINTH streaming composition — NEAR-duplicate rolling ingest
    through the REAL streaming engine
    (streaming/pipeline.py:ingest_fuzzy_batch), the fuzzy twin
    of streaming_incremental_dedup and the composition a re-crawling web
    pipeline actually needs: exact hashing misses the same page
    re-served with one extra word, so each micro-batch keeps the lowest
    id per exact hash within itself, band-joins its MinHash signatures
    against the PERSISTED signature index of earlier survivors (read
    through the generationed store's committed pointer), verifies
    candidates with exact shingle Jaccard against the corpus table's
    bodies, and drops matches at J >= 0.9. The oracle threads the
    batch-by-batch first-arrival FIXPOINT (near-duplication is not
    transitive, so each batch scores against the SURVIVING set — the
    streaming_incremental_sparse convention) with the exhaustive
    Jaccard scan of dedup_incremental_fuzzy, so the hash match proves
    checkpointed sequencing, the store round-trip, the banded join's
    recall, and the verify compose to exactly first-arrival semantics.
    Suffix-decorated re-crawls (donor batches differ, sometimes arrive
    LATER than their copies) make the match path provably fire both
    directions. Source capped at doc_id < 1000 and cached per process;
    table/index/checkpoint rebuild per call under the wiped
    scratch_dir."""
    from ..streaming.pipeline import ingest_fuzzy_batch

    base = scratch_dir("fingest", sf_dir)
    src = _fuzzy_decorated_ingest_source(spark, sf_dir)
    run_rolling_ingest(spark, src, f"{base}/ckpt", partial(
        ingest_fuzzy_batch,
        table_dir=f"{base}/table", index_dir=f"{base}/index",
    ))
    from ..operators.index_store import read_table

    return read_table(spark, f"{base}/table").select(
        "doc_id", F.col("batch_seq").cast("int").alias("batch_seq")
    )


@query(
    "streaming_compacted_ingest",
    oracle="""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
)
SELECT d.doc_id, sha256(d.text) AS content_hash,
       CAST(d.doc_id % 3 AS INT) AS batch_seq
FROM src d
WHERE NOT EXISTS (
  SELECT 1 FROM src h
  WHERE sha256(h.text) = sha256(d.text)
    AND (h.doc_id % 3 < d.doc_id % 3
         OR (h.doc_id % 3 = d.doc_id % 3 AND h.doc_id < d.doc_id)))
""",
)
def streaming_compacted_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EIGHTH streaming composition — index COMPACTION fused into the
    checkpointed rolling-ingest lifecycle, the maintenance interleaving a
    real 24/7 pipeline runs: batches 0-1 stream in and dedup against the
    persisted fingerprint store, an offline compact_index(upto_batch=1)
    merges their index partitions under the atomic generation flip while
    the checkpoint sleeps, then batch 2 arrives and the SAME checkpoint
    resumes — reading through the new generation, deduping against the
    compacted history, and appending its own partition above the
    watermark. The in-engine gates (any failure empties the output and
    the driver goes red): the compaction audit (2 batch partitions -> 1,
    strictly fewer files, identical row count, not a no-op replay) and
    the watermark guard (a replayed ingest of compacted-away batch 1
    must refuse loudly). The oracle states the same first-arrival
    fixpoint as streaming_incremental_dedup plus each survivor's
    batch_seq — compaction must change NOTHING about survivors, and
    post-compaction ingests must still land their own table partitions.
    streaming/pipeline.py:run_rolling_ingest + ingest_dedup_batch;
    operators/index_store.py:compact_index."""
    import glob as _glob
    import os
    import shutil

    from ..operators.index_store import compact_index

    base = scratch_dir("cingest", sf_dir)
    src_all = _dup_decorated_ingest_source(spark, sf_dir)
    files = sorted(
        _glob.glob(f"{src_all}/*.parquet"), key=os.path.getmtime
    )
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    table, index, ckpt = f"{base}/table", f"{base}/index", f"{base}/ckpt"
    ingest = partial(ingest_dedup_batch, table_dir=table, index_dir=index)
    # stage 1: the first two batch files exist; the stream drains them
    # (copy2 preserves mtimes, so file order stays batch order)
    for f in files[:2]:
        shutil.copy2(f, src)
    run_rolling_ingest(spark, src, ckpt, ingest)
    audit = compact_index(spark, index, upto_batch=1)
    refused = False
    try:
        ingest(read_parquet(spark, files[1]), 1)
    except ValueError:
        refused = True
    # stage 2: batch 2 arrives later; the SAME checkpoint continues and
    # processes only the new file, against the compacted generation
    shutil.copy2(files[2], src)
    run_rolling_ingest(spark, src, ckpt, ingest)
    audit_ok = (
        audit["rows_before"] == audit["rows_after"]
        and audit["files_after"] < audit["files_before"]
        and audit["batches_before"] == 2
        and audit["batches_after"] == 1
        and not audit["noop_replay"]
    )
    from ..operators.index_store import read_table

    return (
        read_table(spark, table)
        .filter(F.lit(bool(audit_ok and refused)))
        .select(
            "doc_id",
            "content_hash",
            F.col("batch_seq").cast("int").alias("batch_seq"),
        )
    )


@query(
    "table_compacted_ingest",
    oracle="""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
)
SELECT d.doc_id, sha256(d.text) AS content_hash,
       CAST(d.doc_id % 3 AS INT) AS ingest_batch
FROM src d
WHERE NOT EXISTS (
  SELECT 1 FROM src h
  WHERE sha256(h.text) = sha256(d.text)
    AND (h.doc_id % 3 < d.doc_id % 3
         OR (h.doc_id % 3 = d.doc_id % 3 AND h.doc_id < d.doc_id)))
""",
)
def table_compacted_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TENTH streaming composition — the corpus TABLE itself under
    the generationed store's compaction lifecycle, closing the round-9
    asymmetry where the ingest *indexes* had generations/watermark/
    atomic-flip but the ingest *tables* accreted one bare partition per
    micro-batch forever (at 100 TB rolling ingest the document-sized
    table hits small-files before the digest-sized index does, and a
    replayed batch after table compaction is the same silent
    row-doubling the index guard stops). Batches 0-1 stream in through
    run_rolling_ingest + ingest_dedup_batch — since round 10 the WHOLE
    ingest family
    writes BOTH table and index behind committed generation pointers —
    then an offline compact_table(upto_batch=1) merges
    the table's two batch partitions under the atomic generation flip
    while the checkpoint sleeps, a replay of compacted-away batch 1 must
    refuse BEFORE ANY WRITE — the table-side watermark specifically,
    since the index here is left UNcompacted — then batch 2 resumes on
    the same checkpoint, dedups against the persisted index, and lands
    its own partition inside the compacted generation.

    In-engine gates (any failure empties the output and the driver goes
    red): the table-compaction audit (2 batch partitions -> 1, strictly
    fewer files, identical row count, not a no-op replay), the refusal,
    AND a bit-level no-write proof — the table's (rows, files) layout
    audit is identical before and after the refused replay. Per-row
    arrival lineage survives compaction as the DATA column
    ``ingest_batch`` (batch_seq is layout metadata and remaps on merge —
    the lakehouse-OPTIMIZE contract), so the oracle asserts the
    first-arrival fixpoint of streaming_incremental_dedup PLUS each
    survivor's original batch — proving compaction changed nothing
    logical while the layout collapsed.
    streaming/pipeline.py:run_rolling_ingest / ingest_dedup_batch
    (store-backed on BOTH sides since round 10);
    operators/index_store.py:compact_table (the payload-agnostic store).
    """
    import glob as _glob
    import os
    import shutil

    from ..operators.index_store import (
        compact_table,
        layout_audit,
        read_table,
    )

    base = scratch_dir("tingest", sf_dir)
    src_all = _dup_decorated_ingest_source(spark, sf_dir)
    files = sorted(
        _glob.glob(f"{src_all}/*.parquet"), key=os.path.getmtime
    )
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    table, index, ckpt = f"{base}/table", f"{base}/index", f"{base}/ckpt"
    ingest = partial(ingest_dedup_batch, table_dir=table, index_dir=index)
    for f in files[:2]:
        shutil.copy2(f, src)
    run_rolling_ingest(spark, src, ckpt, ingest)
    audit = compact_table(spark, table, upto_batch=1)
    pre = layout_audit(read_table(spark, table))
    refused = False
    try:
        ingest(read_parquet(spark, files[1]), 1)
    except ValueError:
        refused = True
    post = layout_audit(read_table(spark, table))
    shutil.copy2(files[2], src)
    run_rolling_ingest(spark, src, ckpt, ingest)
    audit_ok = (
        audit["rows_before"] == audit["rows_after"]
        and audit["files_after"] < audit["files_before"]
        and audit["batches_before"] == 2
        and audit["batches_after"] == 1
        and not audit["noop_replay"]
    )
    return (
        read_table(spark, table)
        .filter(F.lit(bool(audit_ok and refused and pre == post)))
        .select(
            "doc_id",
            "content_hash",
            F.col("ingest_batch").cast("int").alias("ingest_batch"),
        )
    )


@query(
    "table_objectstore_ingest",
    oracle="""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
)
SELECT d.doc_id, sha256(d.text) AS content_hash,
       CAST(d.doc_id % 3 AS INT) AS ingest_batch
FROM src d
WHERE NOT EXISTS (
  SELECT 1 FROM src h
  WHERE sha256(h.text) = sha256(d.text)
    AND (h.doc_id % 3 < d.doc_id % 3
         OR (h.doc_id % 3 = d.doc_id % 3 AND h.doc_id < d.doc_id)))
""",
)
def table_objectstore_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_compacted_ingest's WHOLE lifecycle under the OBJECT-STORE
    control plane, driver-proven (r13 verdict growth item 6): the fake
    S3-semantics backend (operators/index_store.py:
    FakeObjectStoreBackend — conditional-put CAS commits mapping 1:1
    onto ``If-None-Match: *`` / ``If-Match: <etag>``, prefix-existence
    ``is_dir``, key-derived listings) is installed process-wide for the
    run, with a contention hook that makes EVERY store key's first
    commit lose its conditional put to a simulated concurrent committer
    — so each generation flip provably traverses the CAS retry loop a
    real contended bucket would force, not just the happy path. The
    pipeline is the sibling row's exactly: batches 0-1 stream in
    (table + index behind committed generation pointers), an offline
    compact_table merges the table's partitions under the atomic
    pointer flip, a replay of the compacted-away batch refuses BEFORE
    ANY WRITE, batch 2 resumes on the same checkpoint.

    In-engine gates (any failure empties the output and the driver
    goes red): the compaction audit, the refusal, the bit-level
    no-write proof around the refusal, AND the object-store-specific
    ones — the CAS loop retried at least once per store (cas_retries
    >= 2: the table's and the index's first commits each lost a race),
    and every commit still landed the caller's value (the final reads
    go through the same backend's read_small). The previous backend is
    restored unconditionally. Data plane unchanged: Spark writes real
    parquet exactly as s3a would write objects; only the control plane
    (commit protocol, listings, existence) speaks object-store."""
    import glob as _glob
    import os
    import shutil

    from ..operators.index_store import (
        FakeObjectStoreBackend,
        compact_table,
        layout_audit,
        read_table,
        set_store_backend,
    )

    base = scratch_dir("osingest", sf_dir)
    src_all = _dup_decorated_ingest_source(spark, sf_dir)
    files = sorted(
        _glob.glob(f"{src_all}/*.parquet"), key=os.path.getmtime
    )
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    table, index, ckpt = f"{base}/table", f"{base}/index", f"{base}/ckpt"
    ingest = partial(ingest_dedup_batch, table_dir=table, index_dir=index)
    be = FakeObjectStoreBackend()
    contended: "set[str]" = set()

    def contend(path: str) -> None:
        # a concurrent committer lands between the GET and the PUT —
        # once per key, so the retry is forced yet the run terminates
        if path in contended:
            return
        contended.add(path)
        if not be.put_if_absent(path, "intruder"):
            be.put_if_match(path, "intruder", be._etag(path))

    be.contend_hook = contend
    prev = set_store_backend(be)
    try:
        for f in files[:2]:
            shutil.copy2(f, src)
        run_rolling_ingest(spark, src, ckpt, ingest)
        audit = compact_table(spark, table, upto_batch=1)
        pre = layout_audit(read_table(spark, table))
        refused = False
        try:
            ingest(read_parquet(spark, files[1]), 1)
        except ValueError:
            refused = True
        post = layout_audit(read_table(spark, table))
        shutil.copy2(files[2], src)
        run_rolling_ingest(spark, src, ckpt, ingest)
        audit_ok = (
            audit["rows_before"] == audit["rows_after"]
            and audit["files_after"] < audit["files_before"]
            and audit["batches_before"] == 2
            and audit["batches_after"] == 1
            and not audit["noop_replay"]
        )
        # object-store gates: both stores' first commits lost a race
        # and retried through the CAS loop; the final pointers hold
        # committed generations, not the intruder's value
        cas_ok = (
            be.cas_retries >= 2
            and be.read_small(f"{table}/CURRENT").strip() != "intruder"
            and be.read_small(f"{index}/CURRENT").strip() != "intruder"
        )
        out = (
            read_table(spark, table)
            .filter(
                F.lit(bool(audit_ok and refused and pre == post and cas_ok))
            )
            .select(
                "doc_id",
                "content_hash",
                F.col("ingest_batch").cast("int").alias("ingest_batch"),
            )
        )
    finally:
        set_store_backend(prev)
    return out


@query(
    "streaming_autocompact_ingest",
    oracle="""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
)
SELECT d.doc_id, sha256(d.text) AS content_hash,
       CAST(d.doc_id % 3 AS INT) AS ingest_batch
FROM src d
WHERE NOT EXISTS (
  SELECT 1 FROM src h
  WHERE sha256(h.text) = sha256(d.text)
    AND (h.doc_id % 3 < d.doc_id % 3
         OR (h.doc_id % 3 = d.doc_id % 3 AND h.doc_id < d.doc_id)))
""",
)
def streaming_autocompact_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ELEVENTH streaming composition — the threshold-gated
    auto-compaction POLICY fused in-band, driver-proven (round 10 proved
    the policy in pytest only; this row graduates it, the same
    pytest-to-driver path the manual compaction took in rounds 8-10).
    One run_rolling_ingest(auto_compact_batches=1) dedup pass over the
    three-batch duplicate-decorated source: before micro-batch 2 the
    metadata-only trigger (operators/index_store.py:compact_if_needed —
    a directory listing, ZERO Spark jobs on the no-op path) finds both
    stores past the 1-batch threshold and compacts each up to the
    checkpoint-committed horizon 1 MID-STREAM, by policy, with no
    offline step; batch 2 then dedups against the compacted history and
    lands inside the policy-built generation.

    In-engine gates (any failure empties the output and the driver goes
    red): the policy actually fired on BOTH stores (each committed
    generation is a ``gen-c1`` compaction generation with watermark 1
    and exactly 2 batch partitions — merged history + batch 2); a
    replay of compacted-away batch 1 refuses BEFORE ANY WRITE with the
    table layout bit-identical around the refusal (the in-band
    watermark protecting the store, not the offline one); and the
    post-crash replay of batch 2 — exactly what foreachBatch(2) re-runs
    from the checkpoint: the same policy check (a no-op fixpoint, its
    horizon at the watermark) then the batch-keyed overwrite — leaves
    the table layout and survivor rows bit-identical (idempotent
    fixpoint). Per-row arrival lineage survives as the ``ingest_batch``
    DATA column while batch_seq remaps under the merge, so the oracle
    asserts the first-arrival fixpoint PLUS each survivor's original
    batch — the policy changed nothing logical.
    streaming/pipeline.py:run_rolling_ingest /
    _maybe_auto_compact; operators/index_store.py:compact_if_needed /
    layout_counts_meta."""
    import glob as _glob
    import os
    import shutil

    from ..operators.index_store import (
        compact_if_needed,
        layout_audit,
        read_index,
        read_table,
        store_current,
        store_watermark,
    )

    base = scratch_dir("acingest", sf_dir)
    src_all = _dup_decorated_ingest_source(spark, sf_dir)
    files = sorted(
        _glob.glob(f"{src_all}/*.parquet"), key=os.path.getmtime
    )
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    table, index, ckpt = f"{base}/table", f"{base}/index", f"{base}/ckpt"
    ingest = partial(ingest_dedup_batch, table_dir=table, index_dir=index)
    for f in files:
        shutil.copy2(f, src)
    run_rolling_ingest(
        spark, src, ckpt, ingest,
        stores=(table, index), auto_compact_batches=1,
    )
    # gate 1: the policy fired mid-stream on BOTH stores — each current
    # generation is the compaction generation gen-c1 (watermark 1) and
    # holds exactly the merged partition + batch 2's own
    fired = True
    for store in (table, index):
        gen = store_current(store)
        fired = fired and os.path.basename(gen) == "gen-c1"
        fired = fired and store_watermark(gen) == 1
        _, _, batches = layout_audit(read_index(spark, store))
        fired = fired and batches == 2
    # gate 2: replay of compacted-away batch 1 refuses BEFORE ANY WRITE
    pre = layout_audit(read_table(spark, table))
    refused = False
    try:
        ingest(read_parquet(spark, files[1]), 1)
    except ValueError:
        refused = True
    refused = refused and layout_audit(read_table(spark, table)) == pre
    # gate 3: crash-replay of batch 2 (policy check + batch-keyed
    # overwrite, exactly foreachBatch(2)'s replay) is a fixpoint: the
    # policy no-ops at the watermark and the overwrite lands identical.
    survivors_pre = survivor_digest(read_table(spark, table))
    replay_noop = (
        compact_if_needed(
            spark, table, committed_upto=1, max_batches=1
        )
        is None
        and compact_if_needed(
            spark, index, committed_upto=1, max_batches=1
        )
        is None
    )
    ingest(read_parquet(spark, files[2]), 2)
    survivors_post = survivor_digest(read_table(spark, table))
    fixpoint = (
        replay_noop
        and survivors_pre == survivors_post
        and layout_audit(read_table(spark, table))[:2] == pre[:2]
    )
    return (
        read_table(spark, table)
        .filter(F.lit(bool(fired and refused and fixpoint)))
        .select(
            "doc_id",
            "content_hash",
            F.col("ingest_batch").cast("int").alias("ingest_batch"),
        )
    )
