"""DSIR data selection (operators/selection.py): hashed-n-gram
importance weights proven three independent ways — a pure-Python
reimplementation sharing no code with the operators, a DuckDB replay of
the full pipeline (the registration-candidate oracle for round 12), and
structural properties (bounded scoring table, monotonicity, tie-stable
top-k)."""

from __future__ import annotations

import hashlib
import math
import re

import pyspark.sql.functions as F

from batch_processing_iac_aws_spark.operators.selection import (
    dsir_gumbel_sample,
    dsir_bucket_logratio,
    dsir_importance_weights,
    dsir_select_topk,
    hashed_ngram_buckets,
)
from batch_processing_iac_aws_spark.plans.llm import _md5_lower60

RAW = [
    (0, "spark shuffles data across executors"),
    (1, "the cat sat on the mat"),
    (2, "spark executors cache shuffle blocks"),
    (3, "recipes for tomato soup and bread"),
    (4, "distributed query engines optimize joins"),
    (5, "the cat chased the dog"),
    (6, "spark query plans optimize shuffle joins"),
    (7, "bread recipes and soup"),
]
TARGET = [
    (100, "spark optimizes distributed query plans"),
    (101, "executors exchange shuffle data"),
    (102, "query engines plan distributed joins"),
]
N_BUCKETS = 64  # small so bucket collisions actually occur in-test
ALPHA = 1.0


def _py_md5_60(s: str) -> int:
    """Independent mirror of plans/llm.py:_md5_lower60 (little-endian
    md5 bytes 8..16, mod 2^60)."""
    d = hashlib.md5(s.encode()).digest()
    return int.from_bytes(d[8:16], "little") % (1 << 60)


def _py_grams(text: str, ns=(1, 2)):
    """Independent mirror of shingle_rows' gram rule: lowercase,
    \\s+ split (Java split keeps leading/trailing empties like
    re.split), sliding k-grams with whole-doc clamp for short docs."""
    words = re.split(r"\s+", text.lower())
    out = []
    for k in ns:
        n = len(words)
        for i in range(max(n - k, 0) + 1):
            out.append(" ".join(words[i : i + k]))
    return out


def _py_weights(raw, target, n_buckets=N_BUCKETS, alpha=ALPHA):
    def profile(docs):
        prof: dict[tuple[int, int], int] = {}
        for did, text in docs:
            for g in _py_grams(text):
                b = _py_md5_60(g) % n_buckets
                prof[(did, b)] = prof.get((did, b), 0) + 1
        return prof

    rp, tp = profile(raw), profile(target)
    r_cnt: dict[int, int] = {}
    t_cnt: dict[int, int] = {}
    for (_, b), c in rp.items():
        r_cnt[b] = r_cnt.get(b, 0) + c
    for (_, b), c in tp.items():
        t_cnt[b] = t_cnt.get(b, 0) + c
    t_tot, r_tot = sum(t_cnt.values()), sum(r_cnt.values())

    def lr(b):
        p = (t_cnt.get(b, 0) + alpha) / (t_tot + alpha * n_buckets)
        q = (r_cnt.get(b, 0) + alpha) / (r_tot + alpha * n_buckets)
        return math.log(p) - math.log(q)

    w: dict[int, float] = {}
    for (did, b), c in rp.items():
        w[did] = w.get(did, 0.0) + c * lr(b)
    return {did: round(v, 6) for did, v in w.items()}


def _frames(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    return raw, tgt


def test_dsir_weights_match_pure_python_reimplementation(spark):
    raw, tgt = _frames(spark)
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance_weights(
            raw, tgt, n_buckets=N_BUCKETS, alpha=ALPHA,
            token_hash=_md5_lower60,
        ).collect()
    }
    want = _py_weights(RAW, TARGET)
    assert set(got) == set(want)
    for did in want:
        assert abs(got[did] - want[did]) < 2e-6, did
    # the semantics DSIR exists for: every target-like doc outweighs
    # every off-target doc
    sparky = {0, 2, 4, 6}
    for s in sparky:
        for o in set(got) - sparky:
            assert got[s] > got[o], (s, o)


#: The oracle lives with the registered dsir_select query
#: (plans/staged.py:DSIR_ORACLE_SQL) — imported here so the pure-Python
#: differential below keeps proving the SAME template the driver row runs.
from batch_processing_iac_aws_spark.plans.staged import DSIR_ORACLE_SQL


def test_dsir_weights_match_duckdb_oracle(spark):
    """The future registered oracle, proven now: DuckDB replays
    featurization (same \\s+/clamp gram rule), the portable md5 bucket
    family, smoothing, and the weighted sum — hash-equal at 6dp."""
    import duckdb
    import pandas as pd

    raw, tgt = _frames(spark)
    con = duckdb.connect()
    con.register("raw_docs", pd.DataFrame(RAW, columns=["doc_id", "text"]))
    con.register(
        "target_docs", pd.DataFrame(TARGET, columns=["doc_id", "text"])
    )
    sql = DSIR_ORACLE_SQL.format(
        raw="raw_docs", target="target_docs",
        n_buckets=N_BUCKETS, alpha=ALPHA,
    )
    want = {
        int(r[0]): float(r[1]) for r in con.execute(sql).fetchall()
    }
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance_weights(
            raw, tgt, n_buckets=N_BUCKETS, alpha=ALPHA,
            token_hash=_md5_lower60,
        ).collect()
    }
    assert got == want


def test_dsir_scoring_table_is_bounded_and_topk_deterministic(spark):
    """Scale shape + selection head: the bucket->logratio table never
    exceeds n_buckets rows no matter the corpus (it is the broadcast
    MODEL); top-k returns exactly k rows ordered by weight with doc_id
    breaking exact ties (duplicate texts — identical profiles — keep
    ascending id order, deterministically)."""
    raw, tgt = _frames(spark)
    dup = raw.unionByName(
        spark.createDataFrame(
            [(50, "spark shuffles data across executors")],
            "doc_id long, text string",
        )
    )
    rp = hashed_ngram_buckets(dup, n_buckets=N_BUCKETS, token_hash=_md5_lower60)
    tp = hashed_ngram_buckets(tgt, n_buckets=N_BUCKETS, token_hash=_md5_lower60)
    lr = dsir_bucket_logratio(tp, rp, n_buckets=N_BUCKETS, alpha=ALPHA)
    assert lr.count() <= N_BUCKETS
    top = dsir_select_topk(
        dup, tgt, k=4, n_buckets=N_BUCKETS, alpha=ALPHA,
        token_hash=_md5_lower60,
    ).collect()
    assert len(top) == 4
    ws = [r["dsir_weight"] for r in top]
    assert ws == sorted(ws, reverse=True)
    # duplicate texts share one gram profile -> EXACTLY equal weights
    # (and DSIR self-penalizes them: duplicating doc 0 doubles its
    # buckets' raw-side mass, dropping the pair's log ratios — which is
    # the selection behavior the method is prized for); with k covering
    # the whole corpus the tie must resolve id-ascending,
    # deterministically
    allk = dsir_select_topk(
        dup, tgt, k=9, n_buckets=N_BUCKETS, alpha=ALPHA,
        token_hash=_md5_lower60,
    ).collect()
    assert len(allk) == 9
    by_id = {r["doc_id"]: r["dsir_weight"] for r in allk}
    assert by_id[0] == by_id[50]
    ids = [r["doc_id"] for r in allk]
    assert ids.index(0) == ids.index(50) - 1


def test_dsir_weight_monotone_in_target_grams(spark):
    """Appending a target-distinctive token to a raw doc strictly
    increases its weight (its new buckets carry positive log ratios) —
    the direction DSIR selects on."""
    raw, tgt = _frames(spark)
    boosted = raw.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 3,
            F.concat(F.col("text"), F.lit(" distributed query")),
        ).otherwise(F.col("text")),
    )
    base = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance_weights(
            raw, tgt, n_buckets=N_BUCKETS, token_hash=_md5_lower60
        ).collect()
    }
    moved = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance_weights(
            boosted, tgt, n_buckets=N_BUCKETS, token_hash=_md5_lower60
        ).collect()
    }
    assert moved[3] > base[3]


def test_dsir_default_hash_is_xxhash64_and_ranks_consistently(spark):
    """The production default (xxhash64, non-portable) must produce the
    same RANKING story on this fixture as the portable family. At a
    realistic bucket count (the tiny in-test N_BUCKETS=64 space is
    deliberately collision-heavy, and WHICH grams collide is a property
    of the hash family, not of the corpus) the ranking is
    collision-free and family-independent."""
    raw, tgt = _frames(spark)
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance_weights(
            raw, tgt, n_buckets=4096
        ).collect()
    }
    sparky = {0, 2, 4, 6}
    for s in sparky:
        for o in set(got) - sparky:
            assert got[s] > got[o], (s, o)


def test_dsir_gumbel_sample_matches_python_and_is_reproducible(spark):
    """Gumbel-top-k head: deterministic salted-md5 noise replayed by an
    independent Python mirror (exact ids AND 6dp keys); identical
    across invocations at one salt; re-drawn under another; and the
    zero-temperature limit recovers the plain top-k ids."""
    raw, tgt = _frames(spark)

    def py_sample(salt, k, temperature):
        w = _py_weights(RAW, TARGET)
        keys = {}
        for did, wv in w.items():
            hx = hashlib.md5(f"{salt}{did}".encode()).hexdigest()[:12]
            u = (int(hx, 16) + 1.0) / (16 ** 12 + 2)
            keys[did] = round(
                wv / temperature - math.log(-math.log(u)), 6
            )
        return sorted(keys.items(), key=lambda t: (-t[1], t[0]))[:k]

    for salt in ("", "epoch-2"):
        got = [
            (r["doc_id"], r["gumbel_key"])
            for r in dsir_gumbel_sample(
                raw, tgt, k=4, salt=salt, n_buckets=N_BUCKETS,
                token_hash=_md5_lower60,
            ).collect()
        ]
        want = py_sample(salt, 4, 1.0)
        assert [g[0] for g in got] == [x[0] for x in want], salt
        for (gid, gk), (wid, wk) in zip(got, want):
            assert abs(gk - wk) < 2e-6, (salt, gid)
        rerun = [
            r["doc_id"]
            for r in dsir_gumbel_sample(
                raw, tgt, k=4, salt=salt, n_buckets=N_BUCKETS,
                token_hash=_md5_lower60,
            ).collect()
        ]
        assert rerun == [g[0] for g in got]
    # zero-temperature limit: ordering collapses to the weights
    cold = [
        r["doc_id"]
        for r in dsir_gumbel_sample(
            raw, tgt, k=4, temperature=1e-9, n_buckets=N_BUCKETS,
            token_hash=_md5_lower60,
        ).collect()
    ]
    top = [
        r["doc_id"]
        for r in dsir_select_topk(
            raw, tgt, k=4, n_buckets=N_BUCKETS, token_hash=_md5_lower60
        ).collect()
    ]
    assert cold == top


def test_dsir_mixture_select_composition(spark):
    """The registered dataset_mixture -> dsir_select composition
    (plans/staged.py:dsir_mixture_select): (a) plan shape — the
    mixture adds NO shuffle (no SortMergeJoin anywhere; the scoring
    and the 48-row mix_source tag join are both broadcast), (b)
    semantics — every selected doc passed the mixture's hash gate,
    none comes from the held-out target domain src0, and mix_source
    agrees with the doc's lang."""
    import hashlib

    from batch_processing_iac_aws_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    df = QUERIES["dsir_mixture_select"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert len(rows) == 48
    docs = {
        r["doc_id"]: (r["lang"], r["source"])
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "lang", "source")
        .collect()
    }
    for r in rows:
        lang, source = docs[r["doc_id"]]
        assert source != "src0"
        assert r["mix_source"] == ("en" if lang == "en" else "rest")
        gate = hashlib.md5(f"mix{r['doc_id']}".encode()).hexdigest()[:2]
        assert gate < ("80" if lang == "en" else "20")
