"""Data-selection, store, record-linkage and true-bits media queries.

Registered here, each with a DuckDB oracle:

* ``dsir_select`` — the DSIR data-selection head over the documents
  corpus (operators/selection.py, Xie et al. NeurIPS 2023), portable
  md5 bucket family so DuckDB replays featurization, smoothing, and the
  weighted sum bit-exactly (the oracle template here is the one
  tests/test_selection.py proved against the pure-Python mirror).
* ``table_snapshot_asof`` — the generationed store's snapshot-read
  contract (operators/index_store.py:read_index(as_of_batch=...)):
  reproduce the corpus table exactly as it stood after ingest batch K,
  through a compaction that merged K's partition away, via the
  ``ingest_batch`` lineage column — plus the loud refusal when no
  lineage exists below the watermark.
* ``dsir_gumbel`` — DSIR's PUBLISHED selection rule (Gumbel-top-k
  sampling without replacement, deterministic salted-md5 noise), the
  sampling head to ``dsir_select``'s zero-temperature limit; the oracle
  parses the digest's first 12 hex chars with an exact strpos fold.
* ``join_fuzzy_match`` — record linkage (entity resolution) across two
  tables on a dirty text key: blocking equi-join + integer-exact
  levenshtein verify + deterministic best-match window
  (operators/joins.py:fuzzy_join).
* ``multimodal_wav_envelope`` — the true-bits audio seam: engine
  encode_wav stereo PCM -> RIFF walk -> downmix -> block-RMS envelope.
* ``multimodal_audio_near_dup`` — gain-invariant audio near-dup on
  true PCM bits through the shared banded perceptual-hash join.
* ``dsir_mixture_select`` — ``dataset_mixture`` -> ``dsir_select``:
  the weighted deterministic corpus mix IS the raw pool, a held-out
  domain (source ``src0``) is the target, and the DSIR head keeps the
  mixture docs most target-like.
* ``multimodal_avi_frames`` — the true-bits video container seam:
  engine encode_jpeg_gray -> encode_avi_mjpeg -> RIFF/movi walk ->
  JPEG luma decode -> block-mean frame features.
* ``multimodal_video_near_dup`` — brightness-invariant video near-dup
  on true container bits through the shared banded perceptual-hash
  join.
* ``multimodal_g711_telephony`` — A-law/mu-law WAV decode on true
  format-6/7 bits.
* ``multimodal_audio_shift_near_dup`` — time-shift-robust audio
  near-dup: onset-aligned block energies survive leading/trailing
  silence.
* ``multimodal_avi_rgb_frames`` — color MJPEG-in-AVI frames through
  the chroma decode path.
* ``multimodal_g711_compand_roundtrip`` — the G.711 compander (encode
  half) round-tripped through a real format-6/7 WAV.
* ``multimodal_adpcm_decode`` — IMA/DVI ADPCM (format 17) decode of
  coded blocks through the stateful recurrence.
* ``multimodal_adpcm_roundtrip`` — the IMA ADPCM compressor
  round-tripped through encode and decode.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import fanout_scan, load_table
from .registry import query, scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: DuckDB replay of the full DSIR pipeline over the portable md5 bucket
#: family (same \s+/short-doc-clamp gram rule as shingle_rows, same
#: little-endian 60-bit hash as plans/llm.py:_md5_lower60, same Laplace
#: smoothing and weighted sum) — proven against an independent
#: pure-Python reimplementation in tests/test_selection.py. ``{raw}`` /
#: ``{target}`` are table expressions; weights round to 6dp on both
#: sides (sums of logs never sit on the decimal grid).
DSIR_ORACLE_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM {{raw}}
), grams AS (
    SELECT doc_id, unnest(w) AS g FROM toks
    UNION ALL
    SELECT t.doc_id,
           CASE WHEN len(t.w) < 2 THEN array_to_string(t.w, ' ')
                ELSE t.w[s.i] || ' ' || t.w[s.i + 1] END AS g
    FROM toks t, unnest(generate_series(1, greatest(len(t.w) - 1, 1))) AS s(i)
), tg AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM {{target}}
), tgrams AS (
    SELECT doc_id, unnest(w) AS g FROM tg
    UNION ALL
    SELECT t.doc_id,
           CASE WHEN len(t.w) < 2 THEN array_to_string(t.w, ' ')
                ELSE t.w[s.i] || ' ' || t.w[s.i + 1] END AS g
    FROM tg t, unnest(generate_series(1, greatest(len(t.w) - 1, 1))) AS s(i)
), rprof AS (
    SELECT doc_id, CAST(md5_number_lower(g) % {1 << 60} AS BIGINT)
           % {{n_buckets}} AS bucket, COUNT(*) AS cnt
    FROM grams GROUP BY 1, 2
), rb AS (SELECT bucket, SUM(cnt) AS r_cnt FROM rprof GROUP BY 1),
tb AS (
    SELECT CAST(md5_number_lower(g) % {1 << 60} AS BIGINT)
           % {{n_buckets}} AS bucket, COUNT(*) AS t_cnt
    FROM tgrams GROUP BY 1
), tot AS (
    SELECT (SELECT COALESCE(SUM(t_cnt), 0) FROM tb) AS t_tot,
           (SELECT COALESCE(SUM(r_cnt), 0) FROM rb) AS r_tot
), lr AS (
    SELECT COALESCE(rb.bucket, tb.bucket) AS bucket,
           ln((COALESCE(t_cnt, 0) + {{alpha}})
              / (t_tot + {{alpha}} * {{n_buckets}}))
           - ln((COALESCE(r_cnt, 0) + {{alpha}})
                / (r_tot + {{alpha}} * {{n_buckets}})) AS logratio
    FROM rb FULL OUTER JOIN tb ON rb.bucket = tb.bucket, tot
)
SELECT p.doc_id, round(SUM(p.cnt * lr.logratio), 6) + 0 AS dsir_weight
FROM rprof p JOIN lr ON p.bucket = lr.bucket
GROUP BY p.doc_id
"""

_DSIR_RAW = "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)"
_DSIR_TARGET = "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)"
_DSIR_K = 64
_DSIR_BUCKETS = 1024


@query(
    "dsir_select",
    oracle=f"""
SELECT doc_id, dsir_weight FROM ({DSIR_ORACLE_SQL.format(
        raw=_DSIR_RAW, target=_DSIR_TARGET,
        n_buckets=_DSIR_BUCKETS, alpha=1.0,
    )})
ORDER BY dsir_weight DESC, doc_id
LIMIT {_DSIR_K}
""",
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023, hashed-n-gram
    variant) as the corpus-curation head: every tenth document plays the
    high-quality TARGET corpus, the rest are the RAW pool, and the query
    keeps the 64 raw docs whose hashed unigram+bigram profile is most
    over-represented under the target distribution relative to the
    pool's own (Laplace-smoothed log ratio, summed per doc).

    Scale shape (operators/selection.py): one featurization pass over
    the raw corpus (explode+slice shingles, whole-stage codegen,
    map-side-combined (doc, bucket) counts); both corpus distributions
    collapse to <= 1024 rows — the MODEL — so scoring is one broadcast
    hash join + a map-side-combined sum (plan-asserted
    1 BroadcastHashJoin / 0 SortMergeJoin in tests/test_selection.py);
    the head is orderBy+limit = TakeOrdered, never a global sort. The
    portable md5 bucket family lets DuckDB replay every moving part;
    production keeps xxhash64 (the dedup-family convention)."""
    from ..operators.selection import dsir_select_topk
    from .llm import _md5_lower60

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    tgt = docs.filter(F.col("doc_id") % 10 == 0)
    top = dsir_select_topk(
        raw, tgt, k=_DSIR_K, n_buckets=_DSIR_BUCKETS, alpha=1.0,
        token_hash=_md5_lower60,
    )
    # `+ 0.0` mirrors the oracle's `+ 0`: IEEE -0.0 + 0.0 = +0.0, so a
    # weight that rounds to zero from below hashes identically.
    return top.select(
        "doc_id", (F.col("dsir_weight") + F.lit(0.0)).alias("dsir_weight")
    )


@query(
    "table_snapshot_asof",
    oracle="""
WITH src AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 7 AND d7.text IS NOT NULL
              THEN d7.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents d7 ON d7.doc_id = d.doc_id - 7
)
SELECT d.doc_id, sha256(d.text) AS content_hash,
       CAST(0 AS INT) AS ingest_batch
FROM src d
WHERE d.doc_id % 3 = 0
  AND NOT EXISTS (
    SELECT 1 FROM src h
    WHERE h.doc_id % 3 = 0
      AND sha256(h.text) = sha256(d.text)
      AND h.doc_id < d.doc_id)
""",
)
def table_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's SNAPSHOT-read contract, driven end-to-end: reproduce
    the corpus table exactly as it stood after ingest batch 0 — the
    training-run reproducibility question ("which snapshot trained
    model X") — through a compaction that merged batch 0's partition
    away. Three micro-batches stream in through the store-backed dedup
    ingest, an offline ``compact_table(upto_batch=1)`` merges batches
    0-1 under the atomic generation flip, then
    ``read_table(as_of_batch=0, lineage_col="ingest_batch")`` recovers
    the exact batch-0 survivor set from the merged partition via the
    per-row arrival lineage the ingest stamps as a DATA column — while
    ``batch_seq <= watermark`` still prunes every post-watermark
    partition from the scan (no copied history, no retention policy:
    appends land under their own partition and compaction merges rows
    without changing them, so a snapshot is a filter, not a restore).

    In-engine gates (any failure empties the output and the oracle goes
    red): the layout-only refusal — ``as_of_batch=0`` WITHOUT lineage
    must raise (batch 0's partition boundary is gone from the layout,
    and returning the merged superset would silently include post-0
    rows); snapshot invariance — the ``as_of_batch=1`` row set is
    IDENTICAL before and after compaction (merged batches remap DOWN to
    the watermark, never up); and the prefix property — the batch-0
    snapshot is a subset of the batch-1 snapshot.
    operators/index_store.py:read_index (as_of_batch/lineage_col);
    tests/test_index_store.py proves the same contract plus the
    partition-prune plan assert on synthetic stores."""
    import glob as _glob
    import os
    import shutil
    from functools import partial

    from ..operators.index_store import compact_table, read_table
    from ..streaming.pipeline import ingest_dedup_batch, run_rolling_ingest
    from .stream_windows import _dup_decorated_ingest_source

    base = scratch_dir("tsnap", sf_dir)
    src_all = _dup_decorated_ingest_source(spark, sf_dir)
    files = sorted(
        _glob.glob(f"{src_all}/*.parquet"), key=os.path.getmtime
    )
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    table, index, ckpt = f"{base}/table", f"{base}/index", f"{base}/ckpt"
    for f in files:
        shutil.copy2(f, src)
    run_rolling_ingest(spark, src, ckpt, partial(
        ingest_dedup_batch, table_dir=table, index_dir=index
    ))

    # gate audits are AGGREGATES, never table collects (the
    # layout_audit discipline): the invariance compare is the shared
    # survivor_digest (plans/stream_windows.py — count + decimal-summed
    # xxhash64, two scalar rows on the driver at any corpus size) and
    # the prefix property is an exceptAll count (snapshot-0 rows minus
    # snapshot-1 rows must be the empty set).
    from .stream_windows import survivor_digest

    _cols = ["doc_id", "content_hash", "ingest_batch"]

    asof1_before = survivor_digest(
        read_table(spark, table, as_of_batch=1, lineage_col="ingest_batch")
        .select(_cols)
    )
    compact_table(spark, table, upto_batch=1)
    asof1 = read_table(
        spark, table, as_of_batch=1, lineage_col="ingest_batch"
    ).select(_cols)
    asof1_after = survivor_digest(asof1)
    refused = False
    try:
        read_table(spark, table, as_of_batch=0)
    except ValueError:
        refused = True
    snap0 = read_table(
        spark, table, as_of_batch=0, lineage_col="ingest_batch"
    )
    prefix_ok = snap0.select(_cols).exceptAll(asof1).count() == 0
    ok = bool(
        refused and asof1_before == asof1_after and prefix_ok
    )
    return snap0.filter(F.lit(ok)).select(
        "doc_id",
        "content_hash",
        F.col("ingest_batch").cast("int").alias("ingest_batch"),
    )


#: DuckDB replay of the salted-md5 Gumbel perturbation: the digest's
#: first 12 hex chars parsed big-endian by a 12-term strpos fold (every
#: product < 2^48, exact in doubles), matching Spark's
#: conv(substring(md5, 1, 12), 16, 10) bit-for-bit.
_HEX12_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substr({{h}}, {i + 1}, 1)) - 1) "
    f"* {16 ** (11 - i)}"
    for i in range(12)
)

_GUMBEL_K = 48
_GUMBEL_SALT = "r12"


@query(
    "dsir_gumbel",
    oracle=f"""
WITH w AS ({DSIR_ORACLE_SQL.format(
        raw=_DSIR_RAW, target=_DSIR_TARGET,
        n_buckets=_DSIR_BUCKETS, alpha=1.0,
    )}),
keyed AS (
    SELECT doc_id, dsir_weight,
           round(dsir_weight
                 - ln(-ln(({_HEX12_FOLD.format(
        h=f"substr(md5('{_GUMBEL_SALT}' || CAST(doc_id AS VARCHAR)), 1, 12)"
    )} + 1)
                          / {float(16 ** 12 + 2)})), 6) + 0 AS gumbel_key
    FROM w
)
SELECT doc_id, dsir_weight, gumbel_key FROM keyed
ORDER BY gumbel_key DESC, doc_id
LIMIT {_GUMBEL_K}
""",
)
def dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's PUBLISHED selection rule as the registered head: sample
    48 raw docs WITHOUT replacement proportional to ``exp(weight)`` via
    the Gumbel-top-k identity, with deterministic engine-portable noise
    (the corpus ops' shared salted-md5 digest -> uniform -> standard
    Gumbel; salt ``"r12"`` is the re-draw lever). Same raw/target split
    and portable md5 bucket family as ``dsir_select`` — this
    pair proves the sampling head end-to-end in DuckDB (digest parse,
    uniform scaling, double-log Gumbel, 6dp-rounded perturbed key, the
    deterministic tiebreak), where the top-k pair proves the
    zero-temperature limit. Executes as TakeOrdered on the perturbed
    key — no global sort (operators/selection.py:dsir_gumbel_sample)."""
    from ..operators.selection import dsir_gumbel_sample
    from .llm import _md5_lower60

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    tgt = docs.filter(F.col("doc_id") % 10 == 0)
    top = dsir_gumbel_sample(
        raw, tgt, k=_GUMBEL_K, salt=_GUMBEL_SALT, temperature=1.0,
        n_buckets=_DSIR_BUCKETS, alpha=1.0, token_hash=_md5_lower60,
    )
    # `+ 0.0` mirrors the oracle's `+ 0`: IEEE -0.0 + 0.0 = +0.0
    return top.select(
        "doc_id",
        (F.col("dsir_weight") + F.lit(0.0)).alias("dsir_weight"),
        (F.col("gumbel_key") + F.lit(0.0)).alias("gumbel_key"),
    )


@query(
    "join_fuzzy_match",
    oracle="""
WITH l AS (
    SELECT doc_id, text, lang, source, length(text) // 16 AS bkt
    FROM documents WHERE doc_id % 4 = 1
), r AS (
    SELECT doc_id + 1000000 AS rid, text || '.' AS text, lang, source,
           length(text || '.') // 16 AS bkt
    FROM documents WHERE doc_id % 4 IN (1, 2)
), cand AS (
    SELECT l.doc_id, r.rid,
           CAST(levenshtein(l.text, r.text) AS BIGINT) AS dist,
           length(l.text) AS len_l, length(r.text) AS len_r
    FROM l JOIN r
      ON l.lang = r.lang AND l.source = r.source AND l.bkt = r.bkt
), verified AS (
    SELECT doc_id, rid, dist FROM cand
    WHERE dist * 10 <= 3 * greatest(len_l, len_r)
)
SELECT doc_id, rid AS match_id, dist FROM verified
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, rid) = 1
""",
)
def join_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (entity resolution) across two tables on a DIRTY
    text key — the blocking + levenshtein-verify + best-match-select
    composition (operators/joins.py:fuzzy_join). The right table is a
    perturbed re-publication of part of the corpus: every doc_id % 4 in
    {1, 2} re-enters under id + 1,000,000 with one appended character
    (a re-crawl with trailing noise); the left side is the %4 == 1
    subset, so half the right rows are its true twins and half are
    decoys. Blocking on (lang, source, own-length bucket) makes the
    candidate join an equi-join — never a cross join; at 100 TB
    candidate volume is per-block |L| x |R|, the caller's bucket-width
    knob — and the verify threshold is INTEGER-exact
    (dist * 10 <= 3 * maxlen cross-multiplication: Spark's double->int
    cast truncates where DuckDB's rounds, so the float form admits
    different boundary pairs per engine). Best-match selection is a
    row_number window over the candidate set (blocking-bounded, never
    table-sized) with the deterministic (dist, right-id) tie order.
    Twins whose one-char growth crosses a 16-char bucket boundary are
    the documented blocking recall trade — identical in both engines,
    so the oracle proves the trade rather than hiding it."""
    from ..operators.joins import fuzzy_join

    docs = _t(spark, sf_dir, "documents")
    left = docs.filter(F.col("doc_id") % 4 == 1).select(
        "doc_id", "text", "lang", "source",
        (F.length("text") / 16).cast("long").alias("bkt"),
    )
    right = (
        docs.filter((F.col("doc_id") % 4).isin(1, 2))
        .select(
            (F.col("doc_id") + 1000000).alias("rid"),
            F.concat(F.col("text"), F.lit(".")).alias("text"),
            "lang", "source",
        )
        .withColumn("bkt", (F.length("text") / 16).cast("long"))
    )
    m = fuzzy_join(
        left, right,
        text_col="text", block_cols=["lang", "source", "bkt"],
        left_id="doc_id", right_id="rid", max_dist_frac=0.3,
        keep="best",
    )
    return m.select("doc_id", F.col("rid").alias("match_id"), "dist")


@query(
    "multimodal_wav_envelope",
    oracle="""
WITH smp AS (
    SELECT d.doc_id, i.i,
           (CAST(md5_number_lower(d.text || ':0:' || CAST(i.i AS VARCHAR))
                 % 1152921504606846976 AS BIGINT) % 65536 - 32768) AS l,
           (CAST(md5_number_lower(d.text || ':1:' || CAST(i.i AS VARCHAR))
                 % 1152921504606846976 AS BIGINT) % 65536 - 32768) AS r
    FROM documents d, range(64) i(i)
), mono AS (
    SELECT doc_id, i, (l + r) / 65536.0 AS m FROM smp
), blocks AS (
    SELECT doc_id, i // 16 AS j, SUM(m * m) AS s2
    FROM mono GROUP BY 1, 2
)
SELECT doc_id AS media_id,
       round(sqrt(MAX(CASE WHEN j = 0 THEN s2 END) / 16.0), 6) AS f0,
       round(sqrt(MAX(CASE WHEN j = 1 THEN s2 END) / 16.0), 6) AS f1,
       round(sqrt(MAX(CASE WHEN j = 2 THEN s2 END) / 16.0), 6) AS f2,
       round(sqrt(MAX(CASE WHEN j = 3 THEN s2 END) / 16.0), 6) AS f3
FROM blocks GROUP BY 1
""",
)
def multimodal_wav_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRUE-BITS audio seam: every document becomes a real 16-bit
    STEREO PCM WAV (engine encode_wav — RIFF/WAVE format 1, interleaved
    channels), and the registered pipeline runs the full codec path a
    real audio corpus would: decode_wav_stdlib walks the RIFF chunks,
    unpacks the PCM frames, downmixes stereo to mono by mean, and folds
    the block-RMS loudness envelope (feature_dim 4) — the audio
    analogue of the image kernels' block-mean luma, riding the same
    downstream near-dup machinery.

    Samples derive from the engine-portable md5 family, and every step
    of the float pipeline is EXACT in binary doubles (samples are
    /2^16 rationals, squares and 16-term block sums stay on the 2^-32
    lattice, sqrt is IEEE correctly-rounded), so the DuckDB twin
    re-derives the envelope arithmetically with no decode: a RIFF-walk,
    PCM-unpack, interleave, or downmix bug shifts a block RMS and the
    hash mismatches. The encoder is independently proven against the
    test-side encoder in tests/test_multimodal.py. Scale shape: one
    mapInPandas per side of the codec seam (Arrow-batched), features
    projected to 4 scalar columns immediately — payload bytes never
    cross a shuffle; pure-Python per-sample is the documented
    thumbnail-scale stdlib trade, plan unchanged under a library
    decoder."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import decode_wav_stdlib, encode_wav

    # fan the single-row-group scan out to the session's cores before the
    # per-doc encode/decode (catalog.fanout_scan; guide §2.5) — 1.6 -> 0.8 s
    # warm at sf0.1, no-op when the input is already split
    d = fanout_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def _smp(text: str, ch: int, i: int) -> int:
        dig = hashlib.md5(f"{text}:{ch}:{i}".encode("utf-8")).digest()
        v = int.from_bytes(dig[8:16], "little") % (1 << 60)
        return v % 65536 - 32768

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                left = [_smp(text, 0, i) for i in range(64)]
                right = [_smp(text, 1, i) for i in range(64)]
                ids.append(did)
                payloads.append(encode_wav([left, right]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(build, schema="media_id long, payload binary")

    def featurize(batches):
        for pdf in batches:
            fs = [
                decode_wav_stdlib(bytes(b), feature_dim=4)
                for b in pdf["payload"]
            ]
            out = {"media_id": pdf["media_id"]}
            for j in range(4):
                out[f"f{j}"] = [f[j] for f in fs]
            yield pd.DataFrame(out)

    return media.mapInPandas(
        featurize,
        schema="media_id long, f0 double, f1 double, f2 double, "
        "f3 double",
    ).select(
        "media_id",
        *[F.round(f"f{j}", 6).alias(f"f{j}") for j in range(4)],
    )


@query(
    "multimodal_audio_near_dup",
    oracle="""
WITH media AS (
    SELECT doc_id, text, 1.0 AS g FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, 0.5 AS g
    FROM documents WHERE doc_id < 15
), smp AS (
    SELECT m.doc_id, m.g, i.i,
           2 * (CAST(md5_number_lower(m.text || ':0:' || CAST(i.i AS
                VARCHAR)) % 1152921504606846976 AS BIGINT) % 32768
                - 16384) AS l,
           2 * (CAST(md5_number_lower(m.text || ':1:' || CAST(i.i AS
                VARCHAR)) % 1152921504606846976 AS BIGINT) % 32768
                - 16384) AS r
    FROM media m, range(64) i(i)
), mono AS (
    SELECT doc_id, i, g * (l + r) / 65536.0 AS m FROM smp
), eng AS (
    SELECT doc_id, i // 2 AS j, SUM(m * m) AS e
    FROM mono GROUP BY 1, 2
), tot AS (SELECT doc_id, SUM(e) AS t FROM eng GROUP BY 1),
sig AS (
    SELECT e.doc_id,
           CAST(SUM(CASE WHEN 32 * e.e > tt.t
                         THEN (CAST(1 AS BIGINT) << CAST(e.j AS INT))
                         ELSE 0 END) AS BIGINT) AS ph
    FROM eng e JOIN tot tt USING (doc_id) GROUP BY e.doc_id
)
SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= 2
""",
)
def multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAIN-INVARIANT audio near-dup on TRUE PCM bits — the audio
    composition of the multimodal family, end-to-end through the real
    codec: every document becomes a stereo 16-bit WAV (engine
    encode_wav), docs with doc_id < 15 RE-ENTER at id + 1,000,000 as a
    re-mastered upload at exactly half gain (samples are even ints, so
    halving is lossless — the decorated match path provably fires at
    hamming 0), the registered pipeline decodes every payload
    (operators/multimodal.py:_wav_decode_samples — RIFF walk, PCM
    unpack, mean stereo downmix), folds 32 block ENERGIES, and runs the
    shared perceptual-hash tail (ahash_pack louder-than-mean voting ->
    hamming_band_pairs 4-chunk pigeonhole join, exact bit_count verify
    — the identical plan the image corpus runs).

    Why energies, not the RMS envelope: block energy is an EXACT binary
    rational (samples live on the 2^-16 lattice, squares and sums stay
    under 2^53), so the louder-than-mean vote 32*e_j > sum(e) is an
    exact, order-insensitive comparison both engines reproduce
    bit-for-bit — and gain g scales every energy by g^2 uniformly, so
    the vote (hence the hash) is gain-invariant by construction, not by
    tolerance. The DuckDB twin replays samples -> downmix -> energies
    -> votes -> packing and scores ALL pairs exhaustively, proving the
    banding's structural recall against an unbanded scan (the
    multimodal_phash_pairs strategy pointed at audio). Payloads never
    cross a shuffle — one long per media item enters the band join."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        _wav_decode_samples,
        encode_wav,
        media_phash_pairs,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.withColumn("g", F.lit(1))
    dup = (
        d.filter(F.col("doc_id") < 15)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .withColumn("g", F.lit(2))  # divisor: half gain
    )
    # fan the 2-partition union (two single-row-group scans) out before
    # the per-doc encode+decode mapInPandas (r15, guide §2.5): the whole
    # WAV encode + RIFF decode corpus pass otherwise runs on 2 of the
    # session's cores (profiled: two ~2 s 2-task jobs WERE the cold
    # query). Warm runs reuse media_phash_pairs' plan-keyed cache either
    # way; guarded no-op on properly split inputs.
    src = fanout_scan(base.unionByName(dup))

    def _smp(text: str, ch: int, i: int) -> int:
        dig = hashlib.md5(f"{text}:{ch}:{i}".encode("utf-8")).digest()
        v = int.from_bytes(dig[8:16], "little") % (1 << 60)
        return 2 * (v % 32768 - 16384)  # even, so half gain is exact

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text, g in zip(
                pdf["doc_id"], pdf["text"], pdf["g"]
            ):
                left = [_smp(text, 0, i) // g for i in range(64)]
                right = [_smp(text, 1, i) // g for i in range(64)]
                ids.append(did)
                payloads.append(encode_wav([left, right]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = src.mapInPandas(build, schema="media_id long, payload binary")

    def featurize(batches):
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                _rate, mono = _wav_decode_samples(bytes(b))
                n = len(mono)
                feats.append(
                    [
                        sum(
                            v * v
                            for v in mono[(j * n) // 32 : ((j + 1) * n) // 32]
                        )
                        for j in range(32)
                    ]
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "features": feats}
            )

    featured = media.mapInPandas(
        featurize, schema="media_id long, features array<double>"
    )
    # no terminal sort: the driver hash is order-insensitive and the
    # sibling pair rows don't sort either — a global orderBy on the
    # pair output would be an avoidable Exchange (r12 verdict)
    return media_phash_pairs(featured, dim=32, max_hamming=2).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


_MIX_GATE = (
    "substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 2)"
)
_MIX_RAW = f"""(SELECT doc_id, text FROM documents
    WHERE source <> 'src0'
      AND ((lang = 'en' AND {_MIX_GATE} < '80')
           OR (lang <> 'en' AND {_MIX_GATE} < '20')))"""
_MIX_TARGET = "(SELECT doc_id, text FROM documents WHERE source = 'src0')"
_MIX_K = 48


@query(
    "dsir_mixture_select",
    oracle=f"""
WITH w AS ({DSIR_ORACLE_SQL.format(
        raw=_MIX_RAW, target=_MIX_TARGET,
        n_buckets=_DSIR_BUCKETS, alpha=1.0,
    )}),
top AS (
    SELECT doc_id, dsir_weight FROM w
    ORDER BY dsir_weight DESC, doc_id
    LIMIT {_MIX_K}
)
SELECT t.doc_id,
       CASE WHEN d.lang = 'en' THEN 'en' ELSE 'rest' END AS mix_source,
       t.dsir_weight
FROM top t JOIN documents d ON d.doc_id = t.doc_id
""",
)
def dsir_mixture_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation composition (r12 verdict growth item 8):
    ``dataset_mixture`` -> ``dsir_select`` — the query a real
    pretraining pipeline runs. The weighted deterministic mixture
    (English at ~50%, everything else at ~12.5%, the exact live
    ``dataset_mixture`` row's thresholds and salt) over every source
    EXCEPT the held-out domain ``src0`` plays the RAW pool; ``src0``
    itself is the high-quality TARGET corpus; the DSIR head keeps the
    48 mixture docs whose hashed unigram+bigram profile is most
    over-represented under the target distribution, each tagged with
    the mixture source it arrived through.

    Scale shape — the composition inherits both parents' shapes and
    adds nothing: the mixture is a map-only hash-gate filter pushed
    into the scan (no shuffle, reproducible on any partitioning), DSIR
    reads that filtered scan once (model collapses to <= 1024 buckets,
    scoring is one broadcast hash join, head is TakeOrdered), and the
    final mix_source tag re-joins the 48-row head back through a
    BROADCAST join against a doc_id+mix_source projection (column
    pruning keeps the second scan at two columns; at 100 TB the
    alternative — threading mix_source through the gram explode —
    would widen every shuffle row for a tag only 48 survivors need).
    Portable md5 family on both engines, as in ``dsir_select``."""
    from ..operators.corpus import dataset_mixture
    from ..operators.selection import dsir_select_topk
    from .llm import _md5_lower60

    d = _t(spark, sf_dir, "documents")
    tgt = d.filter(F.col("source") == "src0").select("doc_id", "text")
    pool = d.filter(F.col("source") != "src0")
    mixed = dataset_mixture(
        {
            "en": (pool.filter(F.col("lang") == "en"), "80"),
            "rest": (pool.filter(F.col("lang") != "en"), "20"),
        },
        key_col="doc_id",
    )
    top = dsir_select_topk(
        mixed.select("doc_id", "text"), tgt,
        k=_MIX_K, n_buckets=_DSIR_BUCKETS, alpha=1.0,
        token_hash=_md5_lower60,
    ).select(
        "doc_id",
        # `+ 0.0` mirrors the oracle template's `+ 0` (IEEE -0.0 fix)
        (F.col("dsir_weight") + F.lit(0.0)).alias("dsir_weight"),
    )
    return (
        mixed.select("doc_id", "mix_source")
        .join(F.broadcast(top), "doc_id")
        .select("doc_id", "mix_source", "dsir_weight")
    )


@query(
    "multimodal_avi_frames",
    oracle="""
WITH g AS (
    SELECT d.doc_id, d.text, i.i AS frame_idx,
           CAST(least(i.i, 1) AS BIGINT) AS sf
    FROM documents d, range(3) i(i)
)
SELECT doc_id AS media_id, frame_idx, frame_idx * 100 AS pts_ms,
       round((128 + 2 * (CAST(md5_number_lower(
             text || ':' || CAST(sf AS VARCHAR) || ':0')
             % 1152921504606846976 AS BIGINT) % 128 - 64)) / 255.0,
             6) AS f0,
       round((128 + 2 * (CAST(md5_number_lower(
             text || ':' || CAST(sf AS VARCHAR) || ':0')
             % 1152921504606846976 AS BIGINT) % 128 - 64)) / 255.0,
             6) AS f1,
       round((128 + 2 * (CAST(md5_number_lower(
             text || ':' || CAST(sf AS VARCHAR) || ':1')
             % 1152921504606846976 AS BIGINT) % 128 - 64)) / 255.0,
             6) AS f2,
       round((128 + 2 * (CAST(md5_number_lower(
             text || ':' || CAST(sf AS VARCHAR) || ':1')
             % 1152921504606846976 AS BIGINT) % 128 - 64)) / 255.0,
             6) AS f3
FROM g
""",
)
def multimodal_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL VIDEO CONTAINER, driven end-to-end (r12 verdict growth
    item 7): every document becomes a true Motion-JPEG AVI clip —
    engine encode_avi_mjpeg wrapping two engine-encoded baseline JPEGs
    (8x16, a top and a bottom 8x8 block each) — and the registered
    pipeline runs exactly what a video corpus would:
    sample_frames(frame_fn=avi_frame_fn) walks the RIFF container to
    the 00dc chunks, decodes each frame through the imageio-proven JPEG
    luma path (zero new pixel math — the container contributes chunk
    offsets only), holds the LAST frame past the 2-frame clip for the
    3-frame grid, and gray_frame_features folds the GRY8 containers
    with the shared block-mean kernel.

    DC coefficients derive from the engine-portable md5 family and
    each block is DC-only, so decoded luma is the CLOSED FORM
    ``128 + 2 * dc`` exactly (quant 16: dequant dc*16, flat IDCT /8,
    +128 — integers throughout, no clamp since dc in [-64, 63]); the
    DuckDB twin re-derives every feature arithmetically, so a Huffman,
    dequant, chunk-walk, or composition bug mismatches the hash. Block
    means over flat 8x8 halves collapse to luma/255 (f0=f1 top,
    f2=f3 bottom) — exact binary rationals, tie-free at 6dp (the
    denominator 255 is odd, so no 6dp half-way case exists). Scale
    shape mirrors the GIF row: one mapInPandas per codec side,
    payloads decoded once per clip via the packed-GRY8 LRU, features
    projected to 4 scalars immediately — payload bytes never cross a
    shuffle, zero Exchange in the plan."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        avi_frame_fn,
        encode_avi_mjpeg,
        encode_jpeg_gray,
        gray_frame_features,
        sample_frames,
    )

    # fan-out before the per-doc JPEG/AVI encode+decode (catalog.fanout_scan;
    # guide §2.5) — 3.3 -> 1.3 s warm at sf0.1, no-op on split inputs
    d = fanout_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    quant = [16] * 64

    def _dc(text: str, f: int, k: int) -> int:
        dig = hashlib.md5(f"{text}:{f}:{k}".encode("utf-8")).digest()
        v = int.from_bytes(dig[8:16], "little") % (1 << 60)
        return v % 128 - 64

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = [
                    encode_jpeg_gray(
                        [{0: _dc(text, f, 0)}, {0: _dc(text, f, 1)}],
                        8, 16, quant,
                    )
                    for f in range(2)
                ]
                ids.append(did)
                payloads.append(encode_avi_mjpeg(8, 16, frames))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(build, schema="media_id long, payload binary")
    frames = sample_frames(
        media, n_frames=3, frame_ms=100, frame_fn=avi_frame_fn
    )

    # one featurize pass per Arrow batch (the GIF row's measured 45x
    # re-inlining trap rules out a 4-column pandas-UDF projection)
    def featurize(batches):
        for pdf in batches:
            fs = [
                gray_frame_features(bytes(b), feature_dim=4)
                for b in pdf["frame"]
            ]
            out = {
                "media_id": pdf["media_id"],
                "frame_idx": pdf["frame_idx"],
                "pts_ms": pdf["pts_ms"],
            }
            for j in range(4):
                out[f"f{j}"] = [f[j] for f in fs]
            yield pd.DataFrame(out)

    return frames.mapInPandas(
        featurize,
        schema="media_id long, frame_idx long, pts_ms long, "
        "f0 double, f1 double, f2 double, f3 double",
    ).select(
        "media_id",
        "frame_idx",
        "pts_ms",
        *[F.round(f"f{j}", 6).alias(f"f{j}") for j in range(4)],
    )


@query(
    "multimodal_video_near_dup",
    oracle="""
WITH media AS (
    SELECT doc_id, text, 0 AS d FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, 8 AS d
    FROM documents WHERE doc_id < 15
), blk AS (
    SELECT m.doc_id, f.f, b.b,
           128 + 2 * (CAST(md5_number_lower(m.text || ':'
                 || CAST(f.f AS VARCHAR) || ':' || CAST(b.b AS VARCHAR))
                 % 1152921504606846976 AS BIGINT) % 120 - 64 + m.d)
               AS luma
    FROM media m, range(4) f(f), range(8) b(b)
), chunk AS (
    SELECT doc_id, f * 8 + b AS j32, 64 * luma AS s FROM blk
), tot AS (SELECT doc_id, SUM(s) AS t FROM chunk GROUP BY 1),
sig AS (
    SELECT c.doc_id,
           CAST(SUM(CASE WHEN 32 * c.s > tt.t
                         THEN (CAST(1 AS BIGINT) << CAST(c.j32 AS INT))
                         ELSE 0 END) AS BIGINT) AS ph
    FROM chunk c JOIN tot tt USING (doc_id) GROUP BY c.doc_id
)
SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= 2
""",
)
def multimodal_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIGHTNESS-INVARIANT video near-dup on TRUE CONTAINER BITS —
    completes the near-dup triad (image r8, audio r12/13, video now):
    every document becomes a real 4-frame Motion-JPEG AVI clip (16x32
    frames, 8 DC-only blocks each, engine encode_jpeg_gray +
    encode_avi_mjpeg), docs with doc_id < 15 RE-ENTER at id + 1,000,000
    as a re-mastered upload with every DC shifted +8 (a uniform
    brightness boost — lumas stay under 255, so no clamp breaks the
    invariance), and the registered pipeline decodes every clip through
    the real container walk + JPEG path (avi_frame_fn), folds 8 exact
    integer CHUNK SUMS per frame into a 32-dim clip vector, and runs
    the shared perceptual-hash tail (ahash_pack brighter-than-mean
    voting -> hamming_band_pairs 4-chunk pigeonhole join, exact
    bit_count verify — the identical plan the image and audio corpora
    run).

    Why BLOCK SUMS, not the /255 means: sums of pixel bytes are exact
    integers (<= 64*254, far under 2^53), so the vote 32*s_j > sum(s)
    is integer-exact in doubles on BOTH engines regardless of
    summation order — and a uniform brightness shift adds the same
    constant to every block and 32x it to the total, so the vote
    (hence the hash) is shift-invariant by construction, not by
    tolerance (the audio row's g^2-energy argument, additive form).
    One sum per 8x8 BLOCK (not per contiguous byte chunk) keeps all 32
    signature bits independent — contiguous 64-byte chunks of the
    16-wide frame straddle both blocks of a block-row and collapse the
    hash to 16 effective bits, tripling organic pair volume for no
    recall gain.
    The DuckDB twin replays DCs -> lumas -> chunk sums -> votes ->
    packing and scores ALL pairs exhaustively, proving the banding's
    structural recall against an unbanded scan. Payloads never cross a
    shuffle — one long per clip enters the band join."""
    import hashlib
    import struct

    import pandas as pd

    from ..operators.multimodal import (
        avi_frame_fn,
        encode_avi_mjpeg,
        encode_jpeg_gray,
        media_phash_pairs,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.withColumn("d", F.lit(0))
    dup = (
        d.filter(F.col("doc_id") < 15)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .withColumn("d", F.lit(8))
    )
    # fan the 2-partition union out before the per-doc JPEG/AVI encode +
    # container-walk decode (r15, guide §2.5): the encode side is the
    # heaviest per-doc Python in the repo and otherwise runs on 2 of the
    # session's cores (profiled: two 15 s 2-task jobs WERE the cold
    # query — ~15 of this row's ~21 cold seconds). Warm runs reuse
    # media_phash_pairs' plan-keyed cache either way; guarded no-op on
    # properly split inputs.
    src = fanout_scan(base.unionByName(dup))
    quant = [16] * 64

    def _dc(text: str, f: int, b: int) -> int:
        dig = hashlib.md5(f"{text}:{f}:{b}".encode("utf-8")).digest()
        v = int.from_bytes(dig[8:16], "little") % (1 << 60)
        return v % 120 - 64  # [-64, 55]: +8 shift stays in category

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text, shift in zip(
                pdf["doc_id"], pdf["text"], pdf["d"]
            ):
                frames = [
                    encode_jpeg_gray(
                        [
                            {0: _dc(text, f, b) + int(shift)}
                            for b in range(8)
                        ],
                        16, 32, quant,
                    )
                    for f in range(4)
                ]
                ids.append(did)
                payloads.append(encode_avi_mjpeg(16, 32, frames))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = src.mapInPandas(build, schema="media_id long, payload binary")

    def featurize(batches):
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                vec = []
                for fi in range(4):
                    fr = avi_frame_fn(bytes(p), fi)
                    w, h = struct.unpack("<II", fr[4:12])
                    luma = fr[12 : 12 + w * h]
                    # per-8x8-block exact integer sums, MCU raster
                    # order (w//8 block columns)
                    for r in range(h // 8):
                        for c in range(w // 8):
                            vec.append(
                                float(
                                    sum(
                                        sum(
                                            luma[
                                                (8 * r + y) * w
                                                + 8 * c : (8 * r + y) * w
                                                + 8 * c + 8
                                            ]
                                        )
                                        for y in range(8)
                                    )
                                )
                            )
                feats.append(vec)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "features": feats}
            )

    featured = media.mapInPandas(
        featurize, schema="media_id long, features array<double>"
    )
    return media_phash_pairs(featured, dim=32, max_hamming=2).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


@query(
    "multimodal_g711_telephony",
    oracle="""
WITH g AS (
    SELECT d.doc_id, l.law, i.i,
           CAST(md5_number_lower(d.text || ':' || CAST(l.law AS VARCHAR)
                || ':' || CAST(i.i AS VARCHAR))
                % 1152921504606846976 AS BIGINT) % 256 AS b
    FROM documents d, (VALUES (6), (7)) l(law), range(64) i(i)
), lin AS (
    SELECT doc_id, law, i // 16 AS blk,
       CASE WHEN law = 7 THEN
         ((((255 - b) % 16) * 8 + 132)
          * (CAST(1 AS BIGINT) << CAST(((255 - b) // 16) % 8 AS INT)))
         - 132
       ELSE
         CASE WHEN ((xor(b, 85) // 16) % 8) = 0
              THEN (xor(b, 85) % 16) * 16 + 8
              ELSE ((xor(b, 85) % 16) * 16 + 264)
                   * (CAST(1 AS BIGINT)
                      << CAST(((xor(b, 85) // 16) % 8) - 1 AS INT))
         END
       END AS mag,
       CASE WHEN law = 7 THEN
            (CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)
       ELSE (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END)
       END AS sgn
    FROM g
)
SELECT doc_id AS media_id, CAST(law AS INT) AS law,
       CAST(SUM(CASE WHEN blk = 0 THEN mag ELSE 0 END) AS BIGINT) AS abs0,
       CAST(SUM(CASE WHEN blk = 1 THEN mag ELSE 0 END) AS BIGINT) AS abs1,
       CAST(SUM(CASE WHEN blk = 2 THEN mag ELSE 0 END) AS BIGINT) AS abs2,
       CAST(SUM(CASE WHEN blk = 3 THEN mag ELSE 0 END) AS BIGINT) AS abs3,
       CAST(SUM(CASE WHEN blk = 0 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig0,
       CAST(SUM(CASE WHEN blk = 1 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig1,
       CAST(SUM(CASE WHEN blk = 2 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig2,
       CAST(SUM(CASE WHEN blk = 3 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig3
FROM lin GROUP BY 1, 2
""",
)
def multimodal_g711_telephony(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TELEPHONY G.711 DECODE, driver-proven on true bits (r13 verdict
    item 2): every document becomes TWO real telephony WAVs — one A-law
    (WAVE format 6), one mu-law (format 7), 64 companded bytes each
    derived from the engine-portable md5 family — wrapped by
    encode_wav_g711 (operators/multimodal.py) and decoded through the
    REAL RIFF walk + _g711_decode_table segment expansion
    (_wav_decode_samples formats-6/7 branch, the r13 branch that was
    suite-proven only). Features are per-block magnitude sums and
    signed sums recovered as EXACT INTEGERS: each decoded sample is
    table[b]/32768 (denominator a power of two, numerator < 2^15), so
    16-sample block sums are exact in binary doubles and ``* 32768``
    lands on the integer — zero float hazards, no rounding anywhere.
    The signed sums additionally pin BOTH laws' sign conventions
    (A-law's is inverted relative to mu-law per G.711 table 1) against
    the DuckDB twin, which replays companded byte -> segment expansion
    -> block sums arithmetically from the ITU-T closed form
    (differentially verified against the Python table for all 512
    (law, byte) combos before registration).

    Scale shape: one mapInPandas per codec side (Arrow-batched,
    payloads decoded once and projected to 8 scalars immediately —
    payload bytes never cross a shuffle), zero Exchange in the plan;
    at 100 TB the per-clip work is bounded by clip length and the
    output is 2 rows x 10 longs per document."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        _wav_decode_samples,
        encode_wav_g711,
    )

    # fan-out before the per-doc compand/decode (catalog.fanout_scan;
    # guide §2.5) — 2.0 -> 1.2 s warm at sf0.1, no-op on split inputs
    d = fanout_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def _cb(text: str, law: int, i: int) -> int:
        dig = hashlib.md5(f"{text}:{law}:{i}".encode("utf-8")).digest()
        return (int.from_bytes(dig[8:16], "little") % (1 << 60)) % 256

    def build(batches):
        for pdf in batches:
            ids, laws, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                for law in (6, 7):
                    comp = bytes(_cb(text, law, i) for i in range(64))
                    ids.append(did)
                    laws.append(law)
                    payloads.append(encode_wav_g711(comp, law=law))
            yield pd.DataFrame(
                {"media_id": ids, "law": laws, "payload": payloads}
            )

    media = d.mapInPandas(
        build, schema="media_id long, law int, payload binary"
    )

    def featurize(batches):
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "law": pdf["law"],
            }
            cols = {f"abs{k}": [] for k in range(4)}
            cols.update({f"sig{k}": [] for k in range(4)})
            for p in pdf["payload"]:
                _rate, mono = _wav_decode_samples(bytes(p))
                for k in range(4):
                    blk = mono[16 * k : 16 * (k + 1)]
                    # exact: each |v|*32768 is the integer magnitude,
                    # and 16-term sums stay far under 2^53
                    cols[f"abs{k}"].append(
                        int(round(sum(abs(v) for v in blk) * 32768))
                    )
                    cols[f"sig{k}"].append(
                        int(round(sum(blk) * 32768))
                    )
            out.update(cols)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        featurize,
        schema="media_id long, law int, "
        + ", ".join(f"abs{k} long" for k in range(4)) + ", "
        + ", ".join(f"sig{k} long" for k in range(4)),
    )


@query(
    "multimodal_audio_shift_near_dup",
    oracle="""
WITH media AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 15
), smp AS (
    SELECT m.doc_id, i.i,
           CASE WHEN i.i = 0 THEN
             2 * (1 + CAST(md5_number_lower(m.text || ':a:0')
                  % 1152921504606846976 AS BIGINT) % 16383)
           ELSE
             2 * (CAST(md5_number_lower(m.text || ':a:'
                  || CAST(i.i AS VARCHAR))
                  % 1152921504606846976 AS BIGINT) % 32768 - 16384)
           END AS s
    FROM media m, range(64) i(i)
), mono AS (
    SELECT doc_id, i, s / 32768.0 AS v FROM smp
), eng AS (
    SELECT doc_id, i // 2 AS j, SUM(v * v) AS e
    FROM mono GROUP BY 1, 2
), tot AS (SELECT doc_id, SUM(e) AS t FROM eng GROUP BY 1),
sig AS (
    SELECT e.doc_id,
           CAST(SUM(CASE WHEN 32 * e.e > tt.t
                         THEN (CAST(1 AS BIGINT) << CAST(e.j AS INT))
                         ELSE 0 END) AS BIGINT) AS ph
    FROM eng e JOIN tot tt USING (doc_id) GROUP BY e.doc_id
)
SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= 2
""",
)
def multimodal_audio_shift_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-SHIFT-ROBUST audio near-dup on TRUE PCM bits (r13 verdict
    growth item 8): the live gain-invariant row catches re-mastered
    uploads but not PADDED/TRIMMED ones — the audio analogue of the
    image crop problem. Every document becomes a mono 16-bit WAV
    (engine encode_wav, first sample forced NONZERO so the onset is
    well-defined), docs with doc_id < 15 RE-ENTER at id + 1,000,000 as
    a re-upload with {16, 32, 48} samples of leading silence AND 12
    samples of trailing silence prepended/appended, and the registered
    pipeline decodes every payload through the real RIFF walk, COARSE
    ONSET-ALIGNS (first nonzero sample), folds 32 block energies over
    the 64 samples FROM THE ONSET, and runs the shared perceptual-hash
    tail (ahash_pack -> hamming_band_pairs pigeonhole join — the
    identical plan the image/audio/video corpora run).

    Why onset alignment beats a max-pool here: leading silence shifts
    every block boundary, so unaligned energies (hence the vote) decay
    with shift; aligning to the first nonzero sample makes the aligned
    block grid IDENTICAL to the original's — invariance by
    construction, not tolerance, the same exactness discipline as the
    gain row's g^2 argument (energies are exact binary rationals on
    the 2^-16 lattice; the forced-nonzero first sample makes the onset
    deterministic on both engines). The DuckDB twin replays the
    UNSHIFTED samples for both ids — exactly what a correct
    onset-aligned decode recovers — so a broken onset scan, block
    grid, or trailing-trim mismatches the hash immediately. Payloads
    never cross a shuffle; one long per clip enters the band join."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        _wav_decode_samples,
        encode_wav,
        media_phash_pairs,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.withColumn("shift", F.lit(0))
    dup = (
        d.filter(F.col("doc_id") < 15)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text",
            (16 * (1 + F.col("doc_id") % 3)).cast("int").alias("shift"),
        )
    )
    src = base.unionByName(dup)

    def _smp(text: str, i: int) -> int:
        dig = hashlib.md5(f"{text}:a:{i}".encode("utf-8")).digest()
        v = int.from_bytes(dig[8:16], "little") % (1 << 60)
        if i == 0:
            return 2 * (1 + v % 16383)  # nonzero: the onset anchor
        return 2 * (v % 32768 - 16384)

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text, shift in zip(
                pdf["doc_id"], pdf["text"], pdf["shift"]
            ):
                samples = (
                    [0] * int(shift)
                    + [_smp(text, i) for i in range(64)]
                    + ([0] * 12 if shift else [])
                )
                ids.append(did)
                payloads.append(encode_wav([samples]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = src.mapInPandas(build, schema="media_id long, payload binary")

    def featurize(batches):
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                _rate, mono = _wav_decode_samples(bytes(b))
                onset = next(
                    (i for i, v in enumerate(mono) if v != 0.0), 0
                )
                core = mono[onset : onset + 64]
                feats.append(
                    [
                        sum(v * v for v in core[2 * j : 2 * j + 2])
                        for j in range(32)
                    ]
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "features": feats}
            )

    featured = media.mapInPandas(
        featurize, schema="media_id long, features array<double>"
    )
    return media_phash_pairs(featured, dim=32, max_hamming=2).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


def _rgb_oracle_channel(
    expr_y: str, expr_cb: str, expr_cr: str
) -> "tuple[str, str, str]":
    """DuckDB replay of _jpeg_ycc_to_rgb on flat DC-only planes: the
    JFIF conversion with libjpeg's int(v + 0.5) positive rounding and
    the decoder's clamp-before-round order (clamp of the UNROUNDED
    value to [0,255] composes with FLOOR(v+0.5) into
    GREATEST(0, LEAST(255, FLOOR(v+0.5))) — equal for every case, the
    registration probe checked the edge branches)."""
    lim = "GREATEST(0, LEAST(255, CAST(FLOOR({v} + 0.5) AS BIGINT)))"
    r = lim.format(v=f"({expr_y}) + 1.402 * (({expr_cr}) - 128)")
    g = lim.format(
        v=f"({expr_y}) - 0.344136 * (({expr_cb}) - 128)"
        f" - 0.714136 * (({expr_cr}) - 128)"
    )
    b = lim.format(v=f"({expr_y}) + 1.772 * (({expr_cb}) - 128)")
    return r, g, b


def _rgb_oracle_sql() -> str:
    """Assemble the multimodal_avi_rgb_frames twin: per (doc, frame)
    derive the six DC-only plane values (Y/Cb/Cr x top/bottom block)
    from the portable md5 family, convert to RGB with the exact JFIF
    arithmetic, and emit the 12 block-mean features (/255, 6dp —
    tie-free: 255 is odd)."""
    def plane(c: int, k: int) -> str:
        return (
            "128 + 2 * (CAST(md5_number_lower(text || ':' "
            f"|| CAST(sf AS VARCHAR) || ':{c}:{k}') "
            "% 1152921504606846976 AS BIGINT) % 128 - 64)"
        )

    cols = []
    for k in (0, 1):  # top block, bottom block
        r, g, b = _rgb_oracle_channel(
            plane(0, k), plane(1, k), plane(2, k)
        )
        cols.append((r, g, b))
    feats = []
    j = 0
    for k in (0, 1):
        for _rep in (0, 1):  # feature_dim=4 quarters repeat each block
            for ch in (0, 1, 2):
                feats.append(
                    f"round(({cols[k][ch]}) / 255.0, 6) AS f{j}"
                )
                j += 1
    return (
        "WITH g AS (SELECT d.doc_id, d.text, i.i AS frame_idx, "
        "CAST(least(i.i, 1) AS BIGINT) AS sf "
        "FROM documents d, range(3) i(i)) "
        "SELECT doc_id AS media_id, frame_idx, frame_idx * 100 AS pts_ms, "
        + ", ".join(feats) + " FROM g"
    )


@query("multimodal_avi_rgb_frames", oracle=_rgb_oracle_sql())
def multimodal_avi_rgb_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR video frames through the REAL container + color codec
    (r13 verdict growth item 7): every document becomes a true
    Motion-JPEG AVI whose frames are engine-encoded BASELINE COLOR
    JPEGs (encode_jpeg_color, YCbCr 4:4:4, 8x16, one top and one
    bottom DC-only block per component), and the registered pipeline
    walks the RIFF container to each frame's JPEG and decodes it
    through the proven CHROMA path (decode_jpeg_rgb_stdlib: full YCbCr
    IDCT + JFIF conversion + block means) — extending the video seam
    to color with ZERO new container math (the AVI walk is byte-
    identical to the luma row's) and zero new pixel math (the round-11
    RGB decoder). DC-only planes decode to the closed form 128 + 2*dc
    per component, and the JFIF conversion is a fixed double-precision
    expression over those integers, so the DuckDB twin predicts every
    RGB feature arithmetically (int(v+0.5) positive rounding + clamp
    replayed as GREATEST/LEAST/FLOOR — proven equal on the edge
    branches at registration). Features are block means of flat
    planes = channel/255 exactly (tie-free at 6dp, denominator odd).
    Scale shape mirrors the luma row: one mapInPandas per codec side,
    features projected to 12 scalars immediately, payloads never cross
    a shuffle, zero Exchange in the plan; hold-last extends the 2-frame
    clip across the 3-frame grid."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        _avi_video_frames,
        decode_jpeg_rgb_stdlib,
        encode_avi_mjpeg,
        encode_jpeg_color,
        sample_frames,
    )

    # fan-out before the per-doc JPEG/AVI encode+decode (catalog.fanout_scan;
    # guide §2.5; measured on the gray sibling) — no-op on split inputs
    d = fanout_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    quant = [16] * 64

    def _dc(text: str, f: int, c: int, k: int) -> int:
        dig = hashlib.md5(f"{text}:{f}:{c}:{k}".encode("utf-8")).digest()
        v = int.from_bytes(dig[8:16], "little") % (1 << 60)
        return v % 128 - 64

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = [
                    encode_jpeg_color(
                        [{0: _dc(text, f, 0, 0)}, {0: _dc(text, f, 0, 1)}],
                        [{0: _dc(text, f, 1, 0)}, {0: _dc(text, f, 1, 1)}],
                        [{0: _dc(text, f, 2, 0)}, {0: _dc(text, f, 2, 1)}],
                        8, 16, quant,
                    )
                    for f in range(2)
                ]
                ids.append(did)
                payloads.append(encode_avi_mjpeg(8, 16, frames))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(build, schema="media_id long, payload binary")

    def jpeg_frame_fn(payload: bytes, idx: int) -> bytes:
        # the frame is the RAW JPEG (hold-last past the clip); the RGB
        # decode happens once per emitted frame in featurize — the
        # container walk is the same _avi_video_frames the luma row uses
        _w, _h, jpegs = _avi_video_frames(bytes(payload or b""))
        return jpegs[min(idx, len(jpegs) - 1)]

    frames = sample_frames(
        media, n_frames=3, frame_ms=100, frame_fn=jpeg_frame_fn
    )

    def featurize(batches):
        for pdf in batches:
            fs = [
                decode_jpeg_rgb_stdlib(bytes(b), feature_dim=4)
                for b in pdf["frame"]
            ]
            out = {
                "media_id": pdf["media_id"],
                "frame_idx": pdf["frame_idx"],
                "pts_ms": pdf["pts_ms"],
            }
            for j in range(12):
                out[f"f{j}"] = [f[j] for f in fs]
            yield pd.DataFrame(out)

    return frames.mapInPandas(
        featurize,
        schema="media_id long, frame_idx long, pts_ms long, "
        + ", ".join(f"f{j} double" for j in range(12)),
    ).select(
        "media_id",
        "frame_idx",
        "pts_ms",
        *[F.round(f"f{j}", 6).alias(f"f{j}") for j in range(12)],
    )


@query(
    "multimodal_g711_compand_roundtrip",
    oracle="""
WITH g AS (
    SELECT d.doc_id, l.law, i.i,
           CAST(md5_number_lower(d.text || ':c:' || CAST(l.law AS VARCHAR)
                || ':' || CAST(i.i AS VARCHAR))
                % 1152921504606846976 AS BIGINT) % 256 AS b0
    FROM documents d, (VALUES (6), (7)) l(law), range(64) i(i)
), canon AS (
    -- the compander canonicalizes mu-law negative zero: expand(0x7F)=0
    -- re-encodes as +0 = 0xFF (the codec's two-zeros property)
    SELECT doc_id, law, i,
           CASE WHEN law = 7 AND b0 = 127 THEN 255 ELSE b0 END AS b
    FROM g
), lin AS (
    SELECT doc_id, law, i // 16 AS blk,
       CASE WHEN law = 7 THEN
         ((((255 - b) % 16) * 8 + 132)
          * (CAST(1 AS BIGINT) << CAST(((255 - b) // 16) % 8 AS INT)))
         - 132
       ELSE
         CASE WHEN ((xor(b, 85) // 16) % 8) = 0
              THEN (xor(b, 85) % 16) * 16 + 8
              ELSE ((xor(b, 85) % 16) * 16 + 264)
                   * (CAST(1 AS BIGINT)
                      << CAST(((xor(b, 85) // 16) % 8) - 1 AS INT))
         END
       END AS mag,
       CASE WHEN law = 7 THEN
            (CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)
       ELSE (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END)
       END AS sgn
    FROM canon
)
SELECT doc_id AS media_id, CAST(law AS INT) AS law,
       CAST(SUM(CASE WHEN blk = 0 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig0,
       CAST(SUM(CASE WHEN blk = 1 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig1,
       CAST(SUM(CASE WHEN blk = 2 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig2,
       CAST(SUM(CASE WHEN blk = 3 THEN mag * sgn ELSE 0 END) AS BIGINT) AS sig3
FROM lin GROUP BY 1, 2
""",
)
def multimodal_g711_compand_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The G.711 COMPANDER driven end-to-end (the encode half of the
    telephony codec pair; multimodal_g711_telephony drives the decode
    half): every document yields 64 LINEAR samples per law sitting on
    codec-exact levels (the expansion of an md5-derived byte), the
    registered pipeline COMPANDS them (compand_g711, the canonical Sun
    algorithm pinned against audioop over the full 16-bit range), wraps
    the companded bytes into a real format-6/7 WAV (encode_wav_g711),
    decodes through the closed-form segment tables, and emits exact
    integer signed block sums. On codec-exact levels companding is the
    expansion's inverse — the fixpoint the suite proves for all 256
    byte values per law — with ONE documented exception the oracle
    replays: mu-law negative zero (0x7F) decodes to 0 and re-encodes
    as +0 (0xFF), the codec's two-zeros property. A compander
    off-by-one on any segment boundary, bias, or sign fold shifts a
    byte, hence a magnitude, hence the block sum — and the hash
    mismatches. Same scale shape as the decode row: two mapInPandas,
    zero Exchange, payloads never shuffle."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import (
        _g711_decode_table,
        _wav_decode_samples,
        compand_g711,
        encode_wav_g711,
    )

    # fan-out before the per-doc compand/decode (catalog.fanout_scan;
    # guide §2.5; measured on the decode sibling) — no-op on split inputs
    d = fanout_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def _cb(text: str, law: int, i: int) -> int:
        dig = hashlib.md5(f"{text}:c:{law}:{i}".encode("utf-8")).digest()
        return (int.from_bytes(dig[8:16], "little") % (1 << 60)) % 256

    def build(batches):
        tables = {law: _g711_decode_table(law) for law in (6, 7)}
        for pdf in batches:
            ids, laws, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                for law in (6, 7):
                    linear = [
                        tables[law][_cb(text, law, i)] for i in range(64)
                    ]
                    comp = compand_g711(linear, law)
                    ids.append(did)
                    laws.append(law)
                    payloads.append(encode_wav_g711(comp, law=law))
            yield pd.DataFrame(
                {"media_id": ids, "law": laws, "payload": payloads}
            )

    media = d.mapInPandas(
        build, schema="media_id long, law int, payload binary"
    )

    def featurize(batches):
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "law": pdf["law"],
            }
            cols = {f"sig{k}": [] for k in range(4)}
            for p in pdf["payload"]:
                _rate, mono = _wav_decode_samples(bytes(p))
                for k in range(4):
                    blk = mono[16 * k : 16 * (k + 1)]
                    cols[f"sig{k}"].append(
                        int(round(sum(blk) * 32768))
                    )
            out.update(cols)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        featurize,
        schema="media_id long, law int, "
        + ", ".join(f"sig{k} long" for k in range(4)),
    )


@query(
    "multimodal_adpcm_decode",
    oracle="""
WITH RECURSIVE st(idx, step) AS (
    -- the IMA quantizer step table, replayed literally
    SELECT * FROM (VALUES
    (0, 7), (1, 8), (2, 9), (3, 10), (4, 11), (5, 12), (6, 13), (7,
    14), (8, 16), (9, 17), (10, 19), (11, 21), (12, 23), (13, 25),
    (14, 28), (15, 31), (16, 34), (17, 37), (18, 41), (19, 45), (20,
    50), (21, 55), (22, 60), (23, 66), (24, 73), (25, 80), (26, 88),
    (27, 97), (28, 107), (29, 118), (30, 130), (31, 143), (32, 157),
    (33, 173), (34, 190), (35, 209), (36, 230), (37, 253), (38, 279),
    (39, 307), (40, 337), (41, 371), (42, 408), (43, 449), (44, 494),
    (45, 544), (46, 598), (47, 658), (48, 724), (49, 796), (50, 876),
    (51, 963), (52, 1060), (53, 1166), (54, 1282), (55, 1411), (56,
    1552), (57, 1707), (58, 1878), (59, 2066), (60, 2272), (61, 2499),
    (62, 2749), (63, 3024), (64, 3327), (65, 3660), (66, 4026), (67,
    4428), (68, 4871), (69, 5358), (70, 5894), (71, 6484), (72, 7132),
    (73, 7845), (74, 8630), (75, 9493), (76, 10442), (77, 11487), (78,
    12635), (79, 13899), (80, 15289), (81, 16818), (82, 18500), (83,
    20350), (84, 22385), (85, 24623), (86, 27086), (87, 29794), (88,
    32767)
    ) v(idx, step)
), hdr AS (
    SELECT d.doc_id,
       CAST(md5_number_lower(d.text || ':ap') % 1152921504606846976
            AS BIGINT) % 65536 - 32768 AS pred0,
       CAST(md5_number_lower(d.text || ':ai') % 1152921504606846976
            AS BIGINT) % 89 AS idx0
    FROM documents d
), nib AS (
    -- 32 coded bytes per doc -> 64 nibbles, LOW nibble first (WAV order)
    SELECT d.doc_id, i.i,
       CASE WHEN i.i % 2 = 0 THEN b.byte % 16 ELSE b.byte // 16 END AS nib
    FROM documents d, range(64) i(i),
         LATERAL (SELECT CAST(md5_number_lower(d.text || ':ad:'
                  || CAST(i.i // 2 AS VARCHAR)) % 1152921504606846976
                  AS BIGINT) % 256 AS byte) b
), walk AS (
    -- the decoder recurrence itself: (predictor, step index) threaded
    -- through all 64 codes; i = -1 is the literal header sample
    SELECT doc_id, -1 AS i, pred0 AS pred, idx0 AS idx FROM hdr
    UNION ALL
    SELECT w.doc_id, w.i + 1,
       GREATEST(-32768, LEAST(32767,
         w.pred + CASE WHEN n.nib >= 8 THEN -1 ELSE 1 END
           * (s.step // 8
              + CASE WHEN (n.nib % 8) >= 4 THEN s.step ELSE 0 END
              + CASE WHEN (n.nib % 4) >= 2 THEN s.step // 2 ELSE 0 END
              + CASE WHEN (n.nib % 2) = 1 THEN s.step // 4 ELSE 0 END))),
       GREATEST(0, LEAST(88, w.idx + CASE n.nib % 8
          WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
          ELSE -1 END))
    FROM walk w
    JOIN nib n ON n.doc_id = w.doc_id AND n.i = w.i + 1
    JOIN st s ON s.idx = w.idx
)
SELECT doc_id AS media_id,
   CAST(SUM(CASE WHEN i = -1 THEN pred ELSE 0 END) AS BIGINT) AS sig_h,
   CAST(SUM(CASE WHEN i BETWEEN 0 AND 15 THEN pred ELSE 0 END)
        AS BIGINT) AS sig0,
   CAST(SUM(CASE WHEN i BETWEEN 16 AND 31 THEN pred ELSE 0 END)
        AS BIGINT) AS sig1,
   CAST(SUM(CASE WHEN i BETWEEN 32 AND 47 THEN pred ELSE 0 END)
        AS BIGINT) AS sig2,
   CAST(SUM(CASE WHEN i BETWEEN 48 AND 63 THEN pred ELSE 0 END)
        AS BIGINT) AS sig3
FROM walk GROUP BY 1
""",
)
def multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMA/DVI ADPCM decoder driven end-to-end (the compressed-
    audio seam made REAL — format 17 was a named refusal through round
    13): every document becomes one coded mono block — an md5-derived
    int16 header predictor, initial step index in [0, 88], and 32
    coded bytes (64 nibbles) — wrapped verbatim by encode_wav_adpcm
    into a real format-17 WAV (fmt extension + fact chunk, exactly as
    wild encoders emit) and decompressed through the REAL
    _wav_decode_samples branch: the spec step table threaded through
    the full stateful recurrence (_adpcm_step, differentially pinned
    against C audioop over exhaustive nibble/state sweeps). Features
    are the literal header sample plus four exact signed 16-sample
    block sums (each sample is pred/32768 — power-of-two denominator —
    so sums are exact in doubles and * 32768 lands on the integer).
    The DuckDB twin replays the ENTIRE decoder as a recursive CTE —
    the step table as VALUES, the clamp/sign/index arithmetic inline —
    so a single off-by-one in any of the 64 chained steps of any doc
    diverges the predictor stream and mismatches the hash. Stateful-
    codec scale shape: payloads are built and decoded inside two
    mapInPandas (zero Exchange, nothing shuffles); each block decodes
    independently, which is exactly why IMA chose per-block headers —
    the 100 TB layout splits on block boundaries for free."""
    import hashlib
    import struct

    import pandas as pd

    from ..operators.multimodal import (
        _wav_decode_samples,
        encode_wav_adpcm,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _h(text: str, salt: str) -> int:
        dig = hashlib.md5(f"{text}{salt}".encode("utf-8")).digest()
        return int.from_bytes(dig[8:16], "little") % (1 << 60)

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                pred0 = _h(text, ":ap") % 65536 - 32768
                idx0 = _h(text, ":ai") % 89
                data = bytes(
                    _h(text, f":ad:{j}") % 256 for j in range(32)
                )
                block = struct.pack("<hBB", pred0, idx0, 0) + data
                ids.append(did)
                payloads.append(
                    encode_wav_adpcm(block, block_align=36)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(build, schema="media_id long, payload binary")

    def featurize(batches):
        for pdf in batches:
            out = {"media_id": pdf["media_id"]}
            cols = {"sig_h": []}
            cols.update({f"sig{k}": [] for k in range(4)})
            for p in pdf["payload"]:
                _rate, mono = _wav_decode_samples(bytes(p))
                cols["sig_h"].append(int(round(mono[0] * 32768)))
                for k in range(4):
                    blk = mono[1 + 16 * k : 1 + 16 * (k + 1)]
                    cols[f"sig{k}"].append(
                        int(round(sum(blk) * 32768))
                    )
            out.update(cols)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        featurize,
        schema="media_id long, sig_h long, "
        + ", ".join(f"sig{k} long" for k in range(4)),
    )


@query(
    "multimodal_adpcm_roundtrip",
    oracle="""
WITH RECURSIVE st(idx, step) AS (
    SELECT * FROM (VALUES
    (0, 7), (1, 8), (2, 9), (3, 10), (4, 11), (5, 12), (6, 13), (7,
    14), (8, 16), (9, 17), (10, 19), (11, 21), (12, 23), (13, 25),
    (14, 28), (15, 31), (16, 34), (17, 37), (18, 41), (19, 45), (20,
    50), (21, 55), (22, 60), (23, 66), (24, 73), (25, 80), (26, 88),
    (27, 97), (28, 107), (29, 118), (30, 130), (31, 143), (32, 157),
    (33, 173), (34, 190), (35, 209), (36, 230), (37, 253), (38, 279),
    (39, 307), (40, 337), (41, 371), (42, 408), (43, 449), (44, 494),
    (45, 544), (46, 598), (47, 658), (48, 724), (49, 796), (50, 876),
    (51, 963), (52, 1060), (53, 1166), (54, 1282), (55, 1411), (56,
    1552), (57, 1707), (58, 1878), (59, 2066), (60, 2272), (61, 2499),
    (62, 2749), (63, 3024), (64, 3327), (65, 3660), (66, 4026), (67,
    4428), (68, 4871), (69, 5358), (70, 5894), (71, 6484), (72, 7132),
    (73, 7845), (74, 8630), (75, 9493), (76, 10442), (77, 11487), (78,
    12635), (79, 13899), (80, 15289), (81, 16818), (82, 18500), (83,
    20350), (84, 22385), (85, 24623), (86, 27086), (87, 29794), (88,
    32767)
    ) v(idx, step)
), lin AS (
    -- 65 md5-derived LINEAR int16 samples per doc: [0] heads the
    -- block literally, [1..64] pass through the quantizer
    SELECT d.doc_id, i.i,
       CAST(md5_number_lower(d.text || ':al:' || CAST(i.i AS VARCHAR))
            % 1152921504606846976 AS BIGINT) % 65536 - 32768 AS s
    FROM documents d, range(65) i(i)
), hdr AS (
    SELECT d.doc_id,
       CAST(md5_number_lower(d.text || ':aj') % 1152921504606846976
            AS BIGINT) % 89 AS idx0
    FROM documents d
), walk AS (
    -- ENCODER + DECODER in one recurrence: the IMA quantizer picks
    -- magnitude bits by greedily subtracting step, step/2, step/4
    -- from |sample - predictor| while the reconstruction diff
    -- accumulates the same terms plus the step/8 floor — so the next
    -- predictor below is simultaneously what the encoder tracks and
    -- what the decoder emits (the bit-identity the suite pins)
    SELECT l.doc_id, 0 AS i, l.s AS pred, h.idx0 AS idx
    FROM lin l JOIN hdr h ON h.doc_id = l.doc_id AND l.i = 0
    UNION ALL
    SELECT w.doc_id, w.i + 1,
       GREATEST(-32768, LEAST(32767, w.pred + CASE WHEN n.s - w.pred <
         0 THEN -(s.step // 8 + CASE WHEN ABS(n.s - w.pred) >= s.step
         THEN s.step ELSE 0 END + CASE WHEN (ABS(n.s - w.pred) - CASE
         WHEN ABS(n.s - w.pred) >= s.step THEN s.step ELSE 0 END) >=
         s.step // 2 THEN s.step // 2 ELSE 0 END + CASE WHEN ((ABS(n.s
         - w.pred) - CASE WHEN ABS(n.s - w.pred) >= s.step THEN s.step
         ELSE 0 END) - CASE WHEN (ABS(n.s - w.pred) - CASE WHEN
         ABS(n.s - w.pred) >= s.step THEN s.step ELSE 0 END) >= s.step
         // 2 THEN s.step // 2 ELSE 0 END) >= s.step // 4 THEN s.step
         // 4 ELSE 0 END) ELSE (s.step // 8 + CASE WHEN ABS(n.s -
         w.pred) >= s.step THEN s.step ELSE 0 END + CASE WHEN (ABS(n.s
         - w.pred) - CASE WHEN ABS(n.s - w.pred) >= s.step THEN s.step
         ELSE 0 END) >= s.step // 2 THEN s.step // 2 ELSE 0 END + CASE
         WHEN ((ABS(n.s - w.pred) - CASE WHEN ABS(n.s - w.pred) >=
         s.step THEN s.step ELSE 0 END) - CASE WHEN (ABS(n.s - w.pred)
         - CASE WHEN ABS(n.s - w.pred) >= s.step THEN s.step ELSE 0
         END) >= s.step // 2 THEN s.step // 2 ELSE 0 END) >= s.step //
         4 THEN s.step // 4 ELSE 0 END) END)),
       GREATEST(0, LEAST(88, w.idx + CASE (CASE WHEN ABS(n.s - w.pred)
         >= s.step THEN 4 ELSE 0 END + CASE WHEN (ABS(n.s - w.pred) -
         CASE WHEN ABS(n.s - w.pred) >= s.step THEN s.step ELSE 0 END)
         >= s.step // 2 THEN 2 ELSE 0 END + CASE WHEN ((ABS(n.s -
         w.pred) - CASE WHEN ABS(n.s - w.pred) >= s.step THEN s.step
         ELSE 0 END) - CASE WHEN (ABS(n.s - w.pred) - CASE WHEN
         ABS(n.s - w.pred) >= s.step THEN s.step ELSE 0 END) >= s.step
         // 2 THEN s.step // 2 ELSE 0 END) >= s.step // 4 THEN 1 ELSE
         0 END) WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN
         8 ELSE -1 END))
    FROM walk w
    JOIN lin n ON n.doc_id = w.doc_id AND n.i = w.i + 1
    JOIN st s ON s.idx = w.idx
)
SELECT doc_id AS media_id,
   CAST(SUM(CASE WHEN i = 0 THEN pred ELSE 0 END) AS BIGINT) AS sig_h,
   CAST(SUM(CASE WHEN i BETWEEN 1 AND 16 THEN pred ELSE 0 END)
        AS BIGINT) AS sig0,
   CAST(SUM(CASE WHEN i BETWEEN 17 AND 32 THEN pred ELSE 0 END)
        AS BIGINT) AS sig1,
   CAST(SUM(CASE WHEN i BETWEEN 33 AND 48 THEN pred ELSE 0 END)
        AS BIGINT) AS sig2,
   CAST(SUM(CASE WHEN i BETWEEN 49 AND 64 THEN pred ELSE 0 END)
        AS BIGINT) AS sig3
FROM walk GROUP BY 1
""",
)
def multimodal_adpcm_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IMA ADPCM COMPRESSOR driven end-to-end (the encode half;
    multimodal_adpcm_decode drives the decode half on raw coded
    bytes): every document yields 65 md5-derived LINEAR int16 samples
    and an initial step index; the registered pipeline COMPRESSES
    samples 1..64 from the literal-header state (compress_adpcm, the
    canonical successive-approximation quantizer pinned against C
    audioop), assembles the real block (header = sample 0 + index),
    wraps it with encode_wav_adpcm, decodes through the REAL stateful
    branch, and emits the header sample plus four exact signed
    16-sample block sums. The DuckDB twin replays ENCODER AND DECODER
    as one recursive CTE — the quantizer's greedy bit selection and
    the reconstruction accumulate the same step terms, which is
    exactly why ADPCM encoder/decoder predictors stay bit-identical —
    so any divergence in either half of the codec, in any of the 64
    chained steps, mismatches the hash. Same scale shape as every
    codec row: two mapInPandas, zero Exchange, payloads never
    shuffle."""
    import hashlib
    import struct

    import pandas as pd

    from ..operators.multimodal import (
        _wav_decode_samples,
        compress_adpcm,
        encode_wav_adpcm,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _h(text: str, salt: str) -> int:
        dig = hashlib.md5(f"{text}{salt}".encode("utf-8")).digest()
        return int.from_bytes(dig[8:16], "little") % (1 << 60)

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                lin = [
                    _h(text, f":al:{i}") % 65536 - 32768
                    for i in range(65)
                ]
                idx0 = _h(text, ":aj") % 89
                codes, _pred, _idx = compress_adpcm(
                    lin[1:], pred=lin[0], idx=idx0
                )
                block = (
                    struct.pack("<hBB", lin[0], idx0, 0) + codes
                )
                ids.append(did)
                payloads.append(
                    encode_wav_adpcm(block, block_align=36)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(build, schema="media_id long, payload binary")

    def featurize(batches):
        for pdf in batches:
            out = {"media_id": pdf["media_id"]}
            cols = {"sig_h": []}
            cols.update({f"sig{k}": [] for k in range(4)})
            for p in pdf["payload"]:
                _rate, mono = _wav_decode_samples(bytes(p))
                cols["sig_h"].append(int(round(mono[0] * 32768)))
                for k in range(4):
                    blk = mono[1 + 16 * k : 1 + 16 * (k + 1)]
                    cols[f"sig{k}"].append(
                        int(round(sum(blk) * 32768))
                    )
            out.update(cols)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        featurize,
        schema="media_id long, sig_h long, "
        + ", ".join(f"sig{k} long" for k in range(4)),
    )
