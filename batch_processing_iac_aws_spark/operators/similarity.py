"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY.md §2B):

* :func:`brute_force_topk` — exact cosine top-k: broadcast the (small) query
  set against the corpus, score with JVM-side HOFs, rank with a window. The
  corpus is never shuffled — the only exchange is the per-query top-k, which
  AQE coalesces. Correct at any corpus size IF the query set is small enough
  to broadcast; cost is O(|corpus| * |queries| * dim).

* :func:`lsh_topk` — random-hyperplane LSH: deterministic hyperplanes,
  per-vector bit signature, candidates = corpus rows sharing the signature
  bucket (optionally within Hamming radius via multi-probe over bands),
  exact re-scoring inside buckets. Sub-linear candidate sets at 100 TB in
  exchange for bounded recall loss (measured in tests against brute force).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.vectors import cosine, dot, l2_norm
from . import index_store

# deterministic pseudo-random doubles in [-1, 1) from a fixed LCG: avoids a
# numpy dependency at definition time and guarantees reproducible planes
_LCG_MOD = 2**63


def _plane_coeffs(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    state = (seed * 2862933555777941757 + 3037000493) % _LCG_MOD or 1
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % _LCG_MOD
            row.append(state / _LCG_MOD * 2.0 - 1.0)
        planes.append(row)
    return planes


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded when ids
    collide). Returns (query_id, neighbor_id, rank, score)."""
    from ..catalog import fanout_scan

    # norms are computed ONCE per row before the pairwise join — cosine()
    # inside the join would recompute both norms for every pair (3x the
    # array-HOF work, and HOF lambdas evaluate interpreted)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    # fan the CORPUS side out before the broadcast join (r15, guide §2.5):
    # with a single-row-group input the scan is ONE task, and since the
    # tiny query side broadcasts, every |corpus| x |queries| interpreted
    # dot product ran on one core (profiled: one 1-task 0.5-2 s job WAS
    # the query). Guarded no-op on properly split inputs, so the at-scale
    # plan keeps its map-only scan shape. Norms project AFTER the
    # exchange so they are computed in parallel too.
    c = fanout_scan(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
        )
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.when(
                F.col("__qn") * F.col("__cn") > 0,
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
            ).alias("__score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "rank",
            F.round("__score", 4).alias("score"),
        )
    )


def incremental_embedding_dedup(
    batch: DataFrame,
    history: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Drop batch vectors whose cosine similarity to ANY already-ingested
    vector reaches ``threshold`` — the embedding (semantic) member of the
    incremental dedup family (exact sha256 / MinHash-Jaccard /
    SimHash-hamming / embedding-cosine, operators/dedup.py for the first
    three). Returns the surviving batch rows.

    Scale shape is the brute_force_topk one INVERTED and then collapsed:
    the BATCH side is bounded by ingestion cadence, so its vectors enter
    the plan as a unit-normalized literal matrix (ONE bounded driver
    collect — batch-sized, same data volume a broadcast would ship) and
    the 100 TB history is scanned exactly once via Arrow mapInPandas:
    each Arrow batch computes a blockwise (rows x dim) @ (dim x n_batch)
    matmul and emits a SINGLE row — the indices of batch vectors it
    disqualifies. No |history| x |batch| intermediate ever exists, not
    even transiently: the per-executor state is one boolean vector of
    n_batch, and the only shuffle is the batch-bounded distinct of
    dropped indices. (The interpreted array-HOF crossJoin form measured
    3.7 s warm at 1.6k x 400 x dim-64 — the matmul form is the same
    measured cliff minhash_signatures avoids.) Exact by construction —
    no index, no recall question. Zero-norm vectors never match
    (positive thresholds assumed). When batches outgrow driver memory,
    split them or front an ANN index (ivf_topk) as a candidate filter
    with this as the verify."""
    rows = batch.select(id_col, vec_col).collect()
    if not rows:
        return batch
    ids = [(i, r[id_col]) for i, r in enumerate(rows)]
    B = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    bn = np.linalg.norm(B, axis=1)
    bn[bn == 0] = np.inf
    Bu = (B / bn[:, None]).T  # dim x n_batch, unit-normalized

    def scan(batches):
        for pdf in batches:
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(M, axis=1, keepdims=True)
            n[n == 0] = np.inf
            Mu = M / n
            hit = np.zeros(Bu.shape[1], dtype=bool)
            # blockwise so the score slab stays ~1k x n_batch regardless
            # of Arrow batch size
            for lo in range(0, Mu.shape[0], 1024):
                # round before thresholding (the repo-wide portability
                # rule): numpy's blocked summation and a sequential SQL
                # engine can differ in the last ulp, and a cosine ON the
                # threshold must not flip the drop decision between
                # engines
                S = np.round(Mu[lo : lo + 1024] @ Bu, 6)
                hit |= (S >= threshold).any(axis=0)
            yield pd.DataFrame({"idx": [np.where(hit)[0].tolist()]})

    hits = history.select(vec_col).mapInPandas(scan, schema="idx array<int>")
    dropped_idx = hits.select(F.explode("idx").alias("__i")).distinct()
    from ..session import local_frame

    id_map = local_frame(
        batch.sparkSession,
        ids,
        f"__i int, {id_col} {dict(batch.dtypes)[id_col]}",
    )
    dropped = dropped_idx.join(F.broadcast(id_map), "__i").select(id_col)
    return batch.join(dropped, id_col, "left_anti")


def label_centroids(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding, computed relationally: posexplode the
    vector (codegen Generate), average per (label, dimension) with map-side
    partial aggregation, then reassemble the ordered array per label. Two
    shuffles of scalar rows — never a collect of vectors to the driver, so
    the corpus side scales to any row count (centroid count stays
    label-bounded)."""
    exploded = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("__pos", "__v"),
    )
    comps = exploded.groupBy(label_col, "__pos").agg(
        F.avg(F.col("__v").cast("double")).alias("__c")
    )
    return (
        comps.groupBy(label_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__pos", "__c"))).alias("__s")
        )
        .select(
            label_col,
            F.transform(F.col("__s"), lambda s: s.getField("__c")).alias(
                "centroid"
            ),
        )
    )


def centroid_outliers(
    df: DataFrame,
    *,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding outlier detection: score every vector's cosine against its
    own label's centroid and keep the k LEAST similar per label — the rows a
    training-data pipeline routes to relabeling/review. The centroid table
    is label-bounded, so the scoring join is a broadcast; ranking is a
    per-label window on the (rounded) score with an id tie-break, which
    keeps the result deterministic across engines and partitionings."""
    cents = label_centroids(df, label_col=label_col, vec_col=vec_col)
    scored = df.join(F.broadcast(cents), label_col).select(
        F.col(label_col),
        F.col(id_col),
        F.round(
            F.when(
                l2_norm(F.col(vec_col)) * l2_norm(F.col("centroid")) > 0,
                dot(F.col(vec_col), F.col("centroid"))
                / (l2_norm(F.col(vec_col)) * l2_norm(F.col("centroid"))),
            ),
            4,
        ).alias("cos_to_centroid"),
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("cos_to_centroid").asc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(label_col, id_col, "rank", "cos_to_centroid")
    )


def add_lsh_signature(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Random-hyperplane signature: bit i = (v . h_i) > 0, packed into a
    long. Pure column expressions — the plane coefficients are literals, so
    the whole signature runs inside codegen with zero Python involvement."""
    planes = _plane_coeffs(n_planes, dim, seed)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        coeffs = F.array(*[F.lit(c) for c in plane])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), coeffs, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseXOR(
            F.shiftleft(F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")), i)
        )
    return df.withColumn(out_col, sig)


def _centroid_scores_udf(centroids: list[tuple[int, list[float]]]):
    """Vectorized (Arrow-batched) cosine scores against every centroid:
    one numpy matmul per batch — (batch x dim) @ (dim x k). Spark's array
    HOFs evaluate their lambdas interpreted (outside codegen), so for
    dense k x dim scoring a pandas UDF is the fast path by an order of
    magnitude; zero-norm vectors score -2.0 (below any real cosine)."""
    from pyspark.sql.functions import pandas_udf

    C = np.array([cv for _, cv in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.inf
    Cu = (C / cn[:, None]).T  # dim x k, unit-normalized

    @pandas_udf("array<double>")
    def scores(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0] = np.inf
        S = (M / n) @ Cu
        S[~np.isfinite(S)] = -2.0
        return pd.Series(list(S))

    return scores


def assign_ivf_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_col: str = "embedding",
    out_col: str = "ivf_cluster",
    score_round: "int | None" = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine): a map-only
    pass — Arrow-batched matmul for the scores, JVM argmax over the small
    score array. No shuffle.

    ``score_round`` (opt-in) rounds the scores before the argmax — the
    semantic_dedup convention that makes the assignment ENGINE-PORTABLE
    (a raw-float argmax can flip on ~1e-16 summation-order differences
    when two cells score nearly equal; at 6dp both engines see the same
    lattice and ties go to the first/lowest cell id). The ANN search
    paths keep the raw default — recall floors tolerate boundary flips;
    hash-oracled dedup paths pass 6."""
    scores = _centroid_scores_udf(centroids)(F.col(vec_col))
    if score_round is not None:
        scores = F.transform(scores, lambda s: F.round(s, score_round))
    scored = df.withColumn("__scores", scores)
    return scored.withColumn(
        out_col,
        F.array_position(F.col("__scores"), F.array_max("__scores")).cast("int")
        - 1,
    ).drop("__scores")


def ivf_refined_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    grid: int = 1000,
    centroid_scale: int = 100,
) -> "list[tuple[int, list[float]]]":
    """Coarse-quantizer init for the IVF family: a deterministic seed (the
    ``n_centroids`` smallest ids — reproducible anywhere, no RNG state to
    ship) refined by ``iters - 1`` EXACT-INTEGER Lloyd rounds over the
    FULL corpus — the k-means||-style upgrade over raw first-n-ids init,
    built from :func:`kmeans_exact`'s primitives (``_quantized_vec`` +
    ``_nearest_centroid_udf`` + the d-partial-sums update agg) so the
    refinement is deterministic and partition-invariant like everything
    else in this family. Raw subset init is fine on near-random vectors,
    but on CLUSTERED data (every real embedding corpus) a seed drawn from
    one dense region leaves giant cells — probe cost and cell skew both
    follow the worst cell, the classic IVF failure; one or two Lloyd
    rounds spread the centroids to the data's actual modes
    (cell-balance improvement asserted in tests/test_similarity.py).

    Scale shape per round: assignment is a map-only Arrow matmul against
    the broadcast k x dim centroid matrix; the update is ONE hash-agg
    with d map-side partial sums whose k-row result is the only collect
    (k x dim ints, model-sized). Returns ``[(seed_source_id, centroid)]``
    with centroids as exact lattice-point floats."""
    dfq = corpus.select(
        F.col(id_col), _quantized_vec(vec_col, grid).alias("__xq")
    )
    if iters > 1:
        # Pin the quantized corpus BEFORE the init collect (r15): the old
        # order ran the full quantize scan once for the init collect and
        # AGAIN for the eager pin — pinning first makes the init collect a
        # cheap read of the pinned blocks (one quantize pass instead of
        # two). Blocks release on GC (the kmeans_exact rationale). NOT
        # fanned out: the per-round work is one numpy matmul per Arrow
        # batch — measured FASTER as one fat task than as 32 Arrow
        # round-trip-dominated slivers (r15 A/B: fanout regressed
        # similarity_ivf_pq 6.4->7.8 s warm; the same 8-beats-32-cores
        # signature as PERF_r14's scaling block).
        dfq = dfq.localCheckpoint(eager=True)
    init_rows = dfq.orderBy(id_col).limit(n_centroids).collect()
    if not init_rows:
        raise ValueError("cannot init IVF centroids from an empty corpus")
    dim = len(init_rows[0]["__xq"])
    ids = [r[id_col] for r in init_rows]
    cents = [
        [int(x) * centroid_scale for x in r["__xq"]] for r in init_rows
    ]
    for _ in range(max(0, iters - 1)):
        assigned = dfq.withColumn(
            "cluster",
            _nearest_centroid_udf(cents, centroid_scale)(F.col("__xq")),
        )
        upd = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                # ONE parsed expression for the dim partial sums (r14:
                # the minhash py4j finding — dim Column builds cost
                # ~0.5 s of driver time per round at dim 64; one string
                # is one round trip, the aggregates are identical)
                F.expr(
                    "array("
                    + ", ".join(f"sum(__xq[{i}])" for i in range(dim))
                    + ") AS __s"
                ),
            )
            .collect()  # k rows of dim ints — model-sized, documented
        )
        for r in upd:
            cents[r["cluster"]] = [
                (int(s) * centroid_scale) // r["__n"] for s in r["__s"]
            ]
    scale = float(grid * centroid_scale)
    return [
        (ids[j], [c / scale for c in cents[j]])
        for j in range(len(cents))
    ]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: "list[tuple[int, list[float]]] | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` cells, probe the ``n_probe`` nearest cells per query,
    exact cosine re-scoring inside the probed cells only.

    Index build: deterministic seed refined by exact-integer Lloyd rounds
    over the corpus (:func:`ivf_refined_centroids` — the k-means||-style
    init that keeps cells balanced on clustered data). Driver-side
    traffic is model-sized only (the k x dim centroid matrix per round);
    everything after is map-only assignment + an equi-join on the cell
    id. Scale shape: candidate volume per query is ~ n_probe/n_centroids
    of the corpus; cell-size skew is AQE-split. Recall vs brute force is
    measured in tests/test_similarity.py.

    Pass ``centroids`` (the :func:`ivf_refined_centroids` return shape)
    to skip training — the coarse quantizer is a model artifact, so
    callers searching the same corpus repeatedly should train once and
    reuse it (the inputs-by-contract pattern).
    """
    if centroids is None:
        centroids = ivf_refined_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )

    c = assign_ivf_clusters(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            l2_norm(F.col(vec_col)).alias("__cn"),
        ),
        centroids,
        vec_col="__cv",
    )
    return _ivf_search(
        c,
        queries,
        centroids,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def _probe_cells(scores_col: Column, n_cells: int, n_probe: int) -> Column:
    """Indices of the ``n_probe`` highest-scoring cells from an
    array<double> centroid-scores column — ties to the LOWEST cell id
    (struct sort on (neg score, cid)). Shared by the ANN search and the
    index-dedup probe so the tie-break convention lives in exactly one
    place (the dedup path feeds ROUNDED scores to keep the probe choice
    engine-portable; the search path feeds raw scores)."""
    ranked = F.transform(
        F.sequence(F.lit(0), F.lit(n_cells - 1)),
        lambda i: F.struct(
            (-F.element_at(scores_col, i + 1)).alias("neg"),
            i.alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(ranked), 1, n_probe),
        lambda s: s.getField("cid"),
    )


def _ivf_search(
    c: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Probe + exact-rescore stage shared by :func:`ivf_topk` (in-memory
    index) and :func:`ivf_index_topk` (persisted index). ``c`` is the
    assigned corpus: (neighbor_id, __cv vector, __cn norm, ivf_cluster)."""
    # per-query probe list: indices of the n_probe highest-scoring centroids
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    q = q.withColumn("__qscores", _centroid_scores_udf(centroids)(F.col("__qv")))
    probes = _probe_cells(F.col("__qscores"), len(centroids), n_probe)
    qp = q.withColumn("ivf_cluster", F.explode(probes)).drop("__qscores")

    cands = qp.join(c, "ivf_cluster").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    scored = cands.select(
        query_id_col,
        "neighbor_id",
        F.when(
            F.col("__qn") * F.col("__cn") > 0,
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        ).alias("__score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "rank",
            F.round("__score", 4).alias("score"),
        )
    )


def _write_ivf_centroids(
    spark, centroids: list[tuple[int, list[float]]], gen_dir: str
) -> None:
    from ..session import local_frame

    # centroid_id is the POSITION (what assign_ivf_clusters emits); the
    # source row id is bookkeeping only — stored as STRING so non-integer
    # id columns (uuids etc.) don't crash the build. Arrow path
    # (local_frame): the pickled-parallelize form cost ~4s of
    # Python-worker spin-up per index build at local[32] for 16 rows.
    df = local_frame(
        spark,
        [
            (i, str(sid), [float(x) for x in v])
            for i, (sid, v) in enumerate(centroids)
        ],
        "centroid_id int, source_id string, centroid array<double>",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{gen_dir}/centroids")


def read_ivf_centroids(spark, index_dir: str) -> list[tuple[int, list[float]]]:
    """Load the committed generation's centroid table back into the
    broadcastable in-memory form every assignment/search call takes.
    Model-sized collect (n_centroids x dim doubles) — the same bytes a
    broadcast would ship."""
    rows = (
        spark.read.parquet(
            f"{index_store.store_current(index_dir)}/centroids"
        )
        .orderBy("centroid_id")
        .collect()
    )
    return [(r["source_id"], list(r["centroid"])) for r in rows]


def ivf_assignments(spark, index_dir: str) -> DataFrame:
    """The committed generation's assignment table
    (id, vec, norm, batch_seq, ivf_cluster) — the supported way to read
    the index contents (generation dirs are an implementation detail)."""
    return spark.read.parquet(
        f"{index_store.store_current(index_dir)}/assignments"
    )


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int = 0,
    assign_score_round: "int | None" = None,
) -> None:
    """Build and PERSIST an IVF index — the rolling-corpus answer to
    :func:`ivf_topk` re-training per call (the similarity twin of the
    round-5 incremental-dedup signature indexes; incrementality pattern ~
    reference batch_processing_IaC.py:300-304 Glue bookmarks).

    Layout under ``index_dir``: generation dirs ``gen-<batch_id>/``
    each holding
      * ``centroids/``   — (centroid_id, source_id, centroid) — one tiny file;
      * ``assignments/`` — (id, embedding, norm) partitioned by
        (batch_seq, ivf_cluster): cell-partitioned so probes prune to
        n_probe/n_centroids of the data at the SCAN, and batch-keyed so a
        replayed ingest overwrites exactly its own partitions
        (the streaming/pipeline.py idempotency contract);
    plus a ``CURRENT`` pointer file naming the committed generation.
    Builds and retrains assemble a COMPLETE generation invisibly, then
    commit it with one atomic pointer rename through the shared store
    (operators/index_store.py:store_commit) — there is no crash point at
    which readers can see half an index or a centroids/assignments
    mismatch, and a replayed build (same replay-stable batch_id)
    overwrites its own generation and re-commits, a fixpoint.

    Centroid init: deterministic seed + exact-integer Lloyd refinement
    over the build corpus (:func:`ivf_refined_centroids` — cells stay
    balanced on clustered data). The only driver traffic is the centroid
    matrix itself (per refinement round)."""
    centroids = ivf_refined_centroids(
        corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    gen_dir = f"{index_dir}/gen-{batch_id}"
    _write_ivf_centroids(corpus.sparkSession, centroids, gen_dir)
    assigned = assign_ivf_clusters(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ),
        centroids,
        vec_col="vec",
        score_round=assign_score_round,
    )
    _write_assigned_cells(assigned, gen_dir, batch_id=batch_id)
    index_store.store_commit(index_dir, f"gen-{batch_id}")
    index_store.prune_store_generations(index_dir)


def _write_assigned_cells(
    assigned: DataFrame,
    gen_dir: str,
    *,
    batch_id: int,
    max_rows_per_file: "int | None" = None,
) -> None:
    """Write ONE batch that ALREADY carries its cell (``id``, ``vec``,
    ``ivf_cluster``) under its own (batch_seq, cell) partitions — dynamic
    overwrite, so a replayed batch_id rewrites exactly itself. Shared by
    :func:`build_ivf_index` and :func:`append_to_ivf_index`, which reuses
    the scoring pass its drift probe already ran instead of assigning the
    batch twice. ``max_rows_per_file`` salts giant cells across several
    files at the WRITE (index_store.salted_repartition) — the same skew
    guard compaction takes, for corpora hot enough to need it per
    ingest."""
    out = assigned.select(
        "id",
        "vec",
        l2_norm(F.col("vec")).alias("norm"),
        F.lit(batch_id).alias("batch_seq"),
        "ivf_cluster",
    )
    (
        # repartition on the partition keys first: without it every
        # upstream task writes a sliver into every cell dir (tasks x
        # cells tiny files — measured 512 files and 5s of FS churn for a
        # 2k-row build); with it, one file per (batch, cell) — or
        # several for a salted giant cell when max_rows_per_file is set.
        index_store.salted_repartition(
            out,
            ["batch_seq", "ivf_cluster"],
            split_col="id",
            max_rows_per_file=max_rows_per_file,
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_seq", "ivf_cluster")
        .parquet(f"{gen_dir}/assignments")
    )


def append_to_ivf_index(
    batch: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int,
    drift_floor: float = 0.0,
    max_drift_frac: float = 0.5,
    n_centroids: int | None = None,
    max_rows_per_file: "int | None" = None,
) -> bool:
    """Ingest a new batch into the persisted IVF index MAP-ONLY: assign
    against the stored (broadcast-sized) centroids, write the batch's
    assignments under its own (batch_seq, cell) partitions — dynamic
    overwrite, so a crashed-and-replayed ingest under the same
    ``batch_id`` rewrites its partitions instead of duplicating them, and
    the 100 TB history is never read, let alone shuffled.

    Drift trigger: if more than ``max_drift_frac`` of the batch lands
    below ``drift_floor`` best-cell cosine (distribution shift — the
    stored coarse quantizer no longer covers the data), the index is
    RETRAINED from the full persisted corpus + this batch (one full
    reassignment scan, the amortized-rare path). Returns True iff a
    retrain happened. The drift probe is one small aggregate (two longs),
    not a collect of vectors.

    ONE scoring pass serves both the drift probe and the assignment
    write (r15, guide §1.2/§5): the old shape scored the batch against
    the centroids for the drift aggregate and then AGAIN for the
    assignment write — the scored+assigned frame is now pinned lazily
    (localCheckpoint materialized by the drift aggregate's own job, so
    probe and pin are one action) and the no-drift write reads the
    pinned blocks. Batch-sized by contract; blocks release on
    GC. Same executor-loss caveat as every localCheckpoint here: on a
    real cluster a lost executor fails the micro-batch (no lineage to
    recompute) and the replay-stable batch_id re-runs it — acceptable
    for batch-cadence ingest, swap for reliable checkpoint dirs if not."""
    spark = batch.sparkSession
    index_store.assert_appendable(index_dir, batch_id)
    gen_dir = index_store.store_current(index_dir)
    centroids = read_ivf_centroids(spark, index_dir)
    scored = batch.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn(
        "__scores", _centroid_scores_udf(centroids)(F.col("vec"))
    )
    # the cell is the same argmax assign_ivf_clusters computes (raw
    # scores — the append path never rounds); materialized alongside the
    # drift column so the write below never re-runs the Arrow scoring
    assigned = scored.select(
        "id",
        "vec",
        F.array_max("__scores").alias("__best"),
        (
            F.array_position(F.col("__scores"), F.array_max("__scores"))
            .cast("int")
            - 1
        ).alias("ivf_cluster"),
    ).localCheckpoint(eager=False)
    drift = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__best") < drift_floor).cast("long")).alias("n_drift"),
    ).collect()[0]
    if drift["n"] == 0:
        return False
    if drift["n_drift"] > max_drift_frac * drift["n"]:
        import os

        if os.path.basename(gen_dir.rstrip("/")) == f"gen-{batch_id}":
            # Replay of an ALREADY-COMMITTED generation for this very
            # batch_id — a post-commit crash of a retrain, or of the
            # first-batch build, re-delivers the batch here. The committed
            # centroids were trained WITH this batch; that the drift gate
            # still fires is possible (training only guarantees the batch
            # seeds >=1 cell, not that <=max_drift_frac of it clears
            # drift_floor) and must NOT fail the replay: treat as
            # already-retrained and take the idempotent append path, which
            # dynamic-overwrites exactly this batch's own partitions with
            # content identical to what the retrain wrote.
            _write_assigned_cells(
                assigned, gen_dir,
                batch_id=batch_id, max_rows_per_file=max_rows_per_file,
            )
            return False
        _retrain_ivf_index(
            batch,
            index_dir,
            n_centroids=n_centroids or len(centroids),
            id_col=id_col,
            vec_col=vec_col,
            batch_id=batch_id,
        )
        return True
    _write_assigned_cells(
        assigned, gen_dir,
        batch_id=batch_id, max_rows_per_file=max_rows_per_file,
    )
    return False


def _retrain_ivf_index(
    batch: DataFrame,
    index_dir: str,
    *,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    batch_id: int,
) -> None:
    """Drift path: retrain the coarse quantizer over old + new and reassign
    EVERYTHING — old vectors re-read from the index itself (the caller
    never replays history), EXCLUDING the triggering batch's own
    partitions: a crash after a partial normal-path append (or between
    the new generation's writes and its commit) replays under the same
    batch_id, and reading our own half-written rows back would store
    every batch vector twice (the crash-window rule of the rolling
    ingest, streaming/pipeline.py:_history).
    Each stored row KEEPS its original batch_seq and the new batch gets
    ``batch_id``; combined with the single-pointer commit this makes
    EVERY crash point a fixpoint: pre-commit, CURRENT still names the old
    complete generation and the replay redoes the retrain into the same
    gen dir; post-commit, the replay sees the new centroids, takes the
    no-drift append path, and dynamic-overwrites exactly its own
    (batch_seq, cell) partitions inside the new generation — which the
    retrain already filled with identical content.

    The new generation is assembled invisibly under its own dir (Spark
    also cannot overwrite a path it is reading in the same job) and
    becomes visible only via the store's atomic pointer rename
    (operators/index_store.py:store_commit) — readers can never observe
    assignments without their matching centroids. A compaction
    watermark is carried forward through the same store backend."""
    spark = batch.sparkSession
    cur_gen = index_store.store_current(index_dir)
    new_gen_name = f"gen-{batch_id}"
    new_gen = f"{index_dir}/{new_gen_name}"
    if new_gen == cur_gen:
        raise ValueError(
            f"retrain batch_id {batch_id} collides with the committed "
            "generation — batch ids must be fresh (replay-stable and "
            "monotone, as Structured Streaming's are)"
        )
    old = (
        spark.read.parquet(f"{cur_gen}/assignments")
        .where(F.col("batch_seq") != F.lit(batch_id))
        .select(
            "id", "vec", F.col("batch_seq").cast("long").alias("batch_seq")
        )
    )
    full = old.unionByName(
        batch.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            F.lit(batch_id).cast("long").alias("batch_seq"),
        )
    )
    # Stratified re-seed: allocate centroid slots per batch_seq
    # proportional to row count (largest-remainder, min 1 per group) and
    # take each group's smallest ids. A plain smallest-ids init would
    # reproduce the OLD quantizer verbatim — the drifted batch (usually a
    # small fraction of the corpus) would again have no covering centroid
    # and the retrain would be a no-op. Stratifying guarantees the new
    # mass seeds at least one cell; production can refine with Lloyd
    # iterations (kmeans_exact in this module) from this init.
    counts = sorted(
        (r["batch_seq"], r["n"])
        for r in full.groupBy("batch_seq")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(n for _, n in counts)
    share = {s: n_centroids * n / total for s, n in counts}
    slots = {s: int(share[s]) for s, _ in counts}
    leftover = n_centroids - sum(slots.values())
    for s in sorted(share, key=lambda s: (-(share[s] - slots[s]), s)):
        if leftover <= 0:
            break
        slots[s] += 1
        leftover -= 1
    for s, _ in counts:  # min 1: steal from the fattest group
        if slots[s] == 0:
            donor = max(slots, key=lambda g: (slots[g], -g))
            if slots[donor] > 1:
                slots[donor] -= 1
                slots[s] = 1
    from ..session import local_frame

    slot_df = local_frame(
        full.sparkSession,
        [(s, m) for s, m in slots.items()],
        "batch_seq long, __slots long",
    )
    w = Window.partitionBy("batch_seq").orderBy("id")
    cent_rows = (
        full.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(slot_df), "batch_seq")
        .filter(F.col("__rn") <= F.col("__slots"))
        .select("id", "vec")
        .orderBy("id")
        .collect()
    )
    centroids = [(r["id"], list(r["vec"])) for r in cent_rows]
    assigned = assign_ivf_clusters(full, centroids, vec_col="vec").select(
        "id",
        "vec",
        l2_norm(F.col("vec")).alias("norm"),
        "batch_seq",
        "ivf_cluster",
    )
    (
        assigned.repartition(F.col("batch_seq"), F.col("ivf_cluster"))
        .write.mode("overwrite")
        .partitionBy("batch_seq", "ivf_cluster")
        .parquet(f"{new_gen}/assignments")
    )
    _write_ivf_centroids(spark, centroids, new_gen)
    # The compaction watermark outlives retrains: compacted-away batch
    # ids stay refused even though the retrain rewrote the layout —
    # their rows are still in the index, just not under their own
    # batch_seq partitions.
    wm = index_store.store_watermark(cur_gen)
    if wm is not None:
        index_store._STORE_BACKEND.put_small_atomic(
            f"{new_gen}/COMPACTED_UPTO", str(wm)
        )
    index_store.store_commit(index_dir, new_gen_name)
    index_store.prune_store_generations(index_dir)


def ivf_index_topk(
    spark,
    queries: DataFrame,
    index_dir: str,
    *,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k against the PERSISTED index: centroids load once
    (model-sized), assignments stream off parquet already cell-partitioned
    — the probed-cell equi-join can prune whole partition directories, and
    stored norms make rescoring one dot product per candidate."""
    centroids = read_ivf_centroids(spark, index_dir)
    c = ivf_assignments(spark, index_dir).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("__cv"),
        F.col("norm").alias("__cn"),
        "ivf_cluster",
    )
    return _ivf_search(
        c,
        queries,
        centroids,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def incremental_ann_dedup(
    batch: DataFrame,
    index_dir: str,
    *,
    threshold: float = 0.6,
    n_probe: int = 1,
    score_round: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INDEX-ACCELERATED semantic dedup — SemDeDup's drop rule run
    against the PERSISTED IVF index instead of the full history:
    each batch vector probes its ``n_probe`` nearest cells (rounded
    cosine against the broadcast-sized stored centroids, ties to the
    lowest cell — the semantic_dedup convention) and drops iff some
    indexed vector INSIDE a probed cell reaches ``threshold`` cosine.
    Returns the surviving batch rows (all columns).

    This is the missing scale shape between the exact incremental
    members and SemDeDup: :func:`incremental_embedding_dedup` scans the
    FULL history per batch (bounded only by the batch broadcast), and
    :func:`~..operators.dedup.semantic_dedup` is corpus-wide, not
    incremental. Here the 100 TB history contributes only its probed
    cells — the assignments tree is partitioned by (batch_seq,
    ivf_cluster), so the cell equi-join prunes whole partition
    directories at the scan, exactly like the ANN search path — and the
    batch side is one map-only assignment against broadcast centroids.
    Like every coarse-quantized method, recall is structural-ish, not
    exact: a true near-duplicate outside the probed cells is missed
    (raise ``n_probe`` to trade scan for recall; for cosine >= ~0.95
    duplicates, vectors this similar land in the same top cells for any
    sane quantizer). All scores round to ``score_round`` dp so probe
    choice and drop decision are engine-portable — the registered query
    hash-oracles the whole composition (build -> probe -> drop)
    end-to-end; build the index with the same ``assign_score_round``."""
    from ..catalog import fanout_scan

    spark = batch.sparkSession
    centroids = read_ivf_centroids(spark, index_dir)
    # fan the batch scan out (r15, guide §2.5): with a single-row-group
    # input and the probed history riding a broadcast, the whole
    # |batch| x |probed cells| interpreted-HOF scoring ran as ONE task
    # (profiled: one 1-task 1.8 s job was ~half this query). Guarded
    # no-op on properly split inputs.
    q = fanout_scan(
        batch.select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
    ).withColumn(
        "__rs",
        F.transform(
            _centroid_scores_udf(centroids)(F.col("__qv")),
            lambda s: F.round(s, score_round),
        ),
    )
    probes = _probe_cells(F.col("__rs"), len(centroids), n_probe)
    # the batch-side norm is computed ONCE per probe row here (r15): the
    # old form evaluated l2_norm(__qv) — an interpreted array aggregate —
    # inside the candidate select, i.e. per (batch, history) PAIR; same
    # expression on the same value, so the scores are bit-identical
    qp = q.withColumn("ivf_cluster", F.explode(probes)).select(
        "__qid", "__qv", l2_norm(F.col("__qv")).alias("__qn"), "ivf_cluster"
    )
    hist = ivf_assignments(spark, index_dir).select(
        F.col("vec").alias("__hv"),
        F.col("norm").alias("__hn"),
        "ivf_cluster",
    )
    scored = qp.join(hist, "ivf_cluster").select(
        "__qid",
        F.round(
            F.when(
                F.col("__qn") * F.col("__hn") > 0,
                dot(F.col("__qv"), F.col("__hv"))
                / (F.col("__qn") * F.col("__hn")),
            ),
            score_round,
        ).alias("__s"),
    )
    dup_ids = (
        scored.filter(F.col("__s") >= threshold)
        .select(F.col("__qid").alias(id_col))
        .distinct()
    )
    return batch.join(dup_ids, id_col, "left_anti")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share at least one of ``bands`` bands of
    the hyperplane signature (banding trades precision for recall exactly as
    in MinHash-LSH), then exact cosine re-scoring within candidates.

    Scale shape: equi-join on (band_idx, band_val) — no cross join anywhere;
    candidate count per query is corpus_fraction ~= bands * 2^-(planes/bands).
    """
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    bits_per_band = n_planes // bands

    def banded(df: DataFrame, id_alias: str) -> DataFrame:
        with_sig = add_lsh_signature(
            df.select(F.col(id_col), F.col(vec_col)),
            vec_col=vec_col,
            n_planes=n_planes,
            dim=dim,
            seed=seed,
        )
        mask = (1 << bits_per_band) - 1
        return with_sig.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(f"__v_{id_alias}"),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("lsh_sig"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        for b in range(bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    qb = banded(queries, query_id_col)
    cb = banded(corpus, "neighbor_id")
    cands = (
        qb.join(cb, ["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", f"__v_{query_id_col}", "__v_neighbor_id")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    scored = cands.select(
        query_id_col,
        "neighbor_id",
        cosine(F.col(f"__v_{query_id_col}"), F.col("__v_neighbor_id")).alias(
            "__score"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "rank",
            F.round("__score", 4).alias("score"),
        )
    )


def quantize_int8(
    df: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the standard 4× storage /
    bandwidth reduction before shipping an embedding corpus to an ANN
    index: ``scale = max|v| / 127``, ``code_i = round(v_i / scale)``.
    Appends (q_scale, q_max_code, q_min_code, q_max_abs_err); the error
    column is the per-vector reconstruction bound ``max|v - code*scale|``
    (max, not sum — order-independent, so bit-identical under any
    partitioning).

    Map-only pass, no shuffle. The array lambdas evaluate interpreted
    (outside codegen); at 100 TB batch the same arithmetic through a numpy
    pandas_udf — the formula is three vectorized ops. Zero vectors get
    scale=1 so codes are 0, not NaN."""
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax == 0, F.lit(1.0)).otherwise(absmax / 127.0)
    # explicit float->double widening: without it the error lambda stays
    # FLOAT and loses the 6-decimal round downstream
    codes = F.transform(
        v, lambda x: F.round(x.cast("double") / F.col("q_scale")).cast("int")
    )
    err = F.transform(
        v,
        lambda x: F.abs(
            x.cast("double")
            - F.round(x.cast("double") / F.col("q_scale")) * F.col("q_scale")
        ),
    )
    return (
        df.withColumn("q_scale", scale)
        .withColumn("q_max_code", F.array_max(codes))
        .withColumn("q_min_code", F.array_min(codes))
        .withColumn("q_max_abs_err", F.array_max(err))
    )


def pca_project(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 2,
) -> DataFrame:
    """Distributed PCA projection: append the top-``k`` principal-component
    scores (pc1..pck) to every row. The decomposition itself is tiny — all
    the data-scale work is computing the d×d covariance, and that is the
    part shaped for 100 TB:

    1. per-Arrow-batch numpy partials (count, sum vector, Gram matrix
       X'X) via mapInPandas — one sequential pass, no Python per-row cost;
    2. the partial rows posexplode to (idx, value) and tree-aggregate in
       the JVM — the shuffle carries d²+d+1 doubles per partition, nothing
       proportional to the data;
    3. ONE bounded driver collect of d²+d+1 scalars (documented
       exception to the no-collect rule — size depends on dimension only),
       then numpy eigh on the d×d covariance;
    4. components re-enter the plan as literals, so the projection is a
       map-only pass (k dot products per row; for large k route the same
       literals through a numpy pandas_udf).

    Component signs are normalized (largest-|loading| coordinate positive)
    so output is deterministic across runs/partitionings."""
    import numpy as np
    import pandas as pd

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_project: empty input")
    dim = len(first[0])

    def partials(batches):
        for pdf in batches:
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            flat = np.concatenate(
                [[float(len(X))], X.sum(axis=0), (X.T @ X).ravel()]
            )
            yield pd.DataFrame({"p": [flat.tolist()]})

    agg = (
        df.select(vec_col)
        .mapInPandas(partials, schema="p array<double>")
        .select(F.posexplode("p").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    flat = np.zeros(1 + dim + dim * dim)
    for r in agg:
        flat[r["i"]] = r["v"]
    n = flat[0]
    mean = flat[1 : 1 + dim] / n
    gram = flat[1 + dim :].reshape(dim, dim)
    cov = (gram - n * np.outer(mean, mean)) / max(n - 1.0, 1.0)
    eigvals, eigvecs = np.linalg.eigh(cov)
    comps = eigvecs[:, ::-1][:, :k]
    for j in range(k):
        if comps[np.abs(comps[:, j]).argmax(), j] < 0:
            comps[:, j] = -comps[:, j]

    out = df
    v = F.col(vec_col)
    for j in range(k):
        c = comps[:, j]
        m_dot_c = float(mean @ c)
        # dot(x, c_j) - dot(mean, c_j): zip the vector against the literal
        # component and fold — JVM-side, map-only
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        score = (
            F.aggregate(
                F.zip_with(v, lit_c, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            - F.lit(m_dot_c)
        )
        out = out.withColumn(f"pc{j + 1}", score)
    return out


def _quantized_vec(vec_col: str | Column, grid: int) -> Column:
    """array<float> -> array<long> on a fixed 1/``grid`` lattice via
    round-half-away-from-zero — the same op DuckDB's round() performs on
    the same doubles, so both engines land on identical integers."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * grid).cast("long")
    )


def _nearest_centroid_udf(centroids: list[list[int]], scale: int):
    """Arrow-batched EXACT nearest-centroid assignment over quantized
    vectors: all arithmetic int64 (squared L2 on the lattice, centroids at
    ``scale``x finer grid), argmin ties to the lowest centroid index.
    Integer distances make the argmin bit-identical in any engine."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.int64)  # k x dim, fine grid
    c2 = (C * C).sum(axis=1)  # k

    @pandas_udf("long")
    def assign(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.int64) * scale  # n x dim
        x2 = (X * X).sum(axis=1)  # n
        dist = x2[:, None] - 2 * (X @ C.T) + c2[None, :]  # n x k, int64
        return pd.Series(np.argmin(dist, axis=1).astype(np.int64))

    return assign


def kmeans_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    grid: int = 1000,
    centroid_scale: int = 100,
) -> DataFrame:
    """Distributed Lloyd's k-means with EXACT integer arithmetic, so the
    final assignment is hash-oracle-able (the graph_pagerank pattern:
    fixed-point lattices make iterative float algorithms engine-exact).
    Vectors quantize to a 1/``grid`` lattice; centroids live at a
    ``centroid_scale``x finer lattice and update by exact floor division
    of the cluster sum; squared-L2 distances and the argmin (ties to the
    lowest centroid id) are all int64. Initial centroids are the first
    ``k`` vectors by id (deterministic; swap for k-means|| on real data).
    Returns (id, cluster) after ``iters`` assignment rounds.

    Scale shape per iteration: assignment is a MAP-ONLY Arrow matmul
    against the broadcast k x dim centroid matrix; the update is ONE
    hash-agg keyed by cluster carrying d map-side partial sums + a count
    (the minhash 64-partial-mins pattern) whose k-row result is the only
    driver collect (k x dim ints, model-sized, documented). Empty
    clusters keep their previous centroid. No iteration-growing lineage:
    each round's frame derives from the cached quantized input, not the
    previous round's plan."""
    # Materialize the quantized input with an eager localCheckpoint, NOT
    # .cache(): every iteration (and the returned frame) reads the same
    # pinned blocks, but — unlike a cache this function could never
    # safely unpersist (the returned lazy frame keeps referencing it) —
    # checkpoint blocks are released by the ContextCleaner once the RDD
    # is GC'd, so repeated calls in a long-lived session don't
    # accumulate pinned partitions. The returned frame stays a pure
    # Arrow-assignment map over the checkpointed scan (plan-asserted in
    # tests/test_plans.py). Pinned BEFORE the init collect (r15): the
    # old order paid the quantize scan once for the init collect and
    # again for the pin. NOT fanned out (the ivf_refined_centroids
    # rationale: one numpy-matmul task beats 32 Arrow slivers).
    dfq = (
        df.select(F.col(id_col), _quantized_vec(vec_col, grid).alias("__xq"))
        .localCheckpoint(eager=True)
    )
    init_rows = dfq.orderBy(id_col).limit(k).collect()
    if not init_rows:
        id_type = dict(df.dtypes)[id_col]
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, cluster long"
        )
    dim = len(init_rows[0]["__xq"])
    cents = [
        [int(x) * centroid_scale for x in r["__xq"]] for r in init_rows
    ]
    assigned = None
    for t in range(iters):
        assigned = dfq.withColumn(
            "cluster",
            _nearest_centroid_udf(cents, centroid_scale)(F.col("__xq")),
        )
        if t == iters - 1:
            break  # final round is assignment-only
        upd = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                # ONE parsed expression for the dim partial sums (r14:
                # the minhash py4j finding — dim Column builds cost
                # ~0.5 s of driver time per round at dim 64; one string
                # is one round trip, the aggregates are identical)
                F.expr(
                    "array("
                    + ", ".join(f"sum(__xq[{i}])" for i in range(dim))
                    + ") AS __s"
                ),
            )
            .collect()
        )
        for r in upd:
            n = r["__n"]
            cents[r["cluster"]] = [
                (int(s) * centroid_scale) // n for s in r["__s"]
            ]
    return assigned.select(
        F.col(id_col), F.col("cluster").cast("long")
    )


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): codes instead of floats
# --------------------------------------------------------------------------


def _pq_normalized_quantized(vec_col: str | Column, grid: int) -> Column:
    """L2-normalize then lattice-quantize: with unit-norm inputs the PQ
    inner product ranks like cosine, and the fixed 1/``grid`` lattice
    makes every downstream comparison exact int64 (partition-invariant,
    replayable)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n = l2_norm(c)
    return F.transform(
        c, lambda x: F.round(x.cast("double") / n * grid).cast("long")
    )


def _nearest_code_udf(codebooks: list[list[list[int]]], scale: int):
    """Arrow-batched nearest-codeword assignment for (sub_idx, subvec)
    rows: exact int64 squared-L2 against the sub_idx's codebook (codes at
    ``scale``x finer lattice), argmin ties to the lowest code. One UDF
    handles ALL subspaces — training/encoding stays a single map-only
    pass instead of one job per subspace."""
    from pyspark.sql.functions import pandas_udf

    CBS = [np.array(cb, dtype=np.int64) for cb in codebooks]  # m x k x sd
    C2S = [(cb * cb).sum(axis=1) for cb in CBS]

    @pandas_udf("long")
    def assign(sub_idx: pd.Series, v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.int64) * scale  # n x sd
        x2 = (X * X).sum(axis=1)
        out = np.empty(len(X), dtype=np.int64)
        si = sub_idx.to_numpy()
        for j in np.unique(si):
            rows = si == j
            Xj = X[rows]
            dist = (
                x2[rows][:, None] - 2 * (Xj @ CBS[j].T) + C2S[j][None, :]
            )
            out[rows] = np.argmin(dist, axis=1)
        return pd.Series(out)

    return assign


def _pq_subvectors(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    m: int,
    grid: int,
    carry_cols: "list[str] | None" = None,
) -> DataFrame:
    """(id, [carry_cols...,] sub_idx, subvec array<long>) rows:
    normalize+quantize once, slice into ``m`` equal subspaces, posexplode
    — map-only. ``carry_cols`` ride along unchanged (e.g. an IVF cell id,
    so encode + cell assignment stay ONE pass with no join-back)."""
    carry = list(carry_cols or [])
    xq = _pq_normalized_quantized(vec_col, grid)
    # ONE parsed expression for the m slices (r14 py4j finding)
    slices = F.expr(
        "array("
        + ", ".join(
            f"slice(__xq, cast({j} * __sd + 1 as int), cast(__sd as int))"
            for j in range(m)
        )
        + ")"
    )
    return (
        df.select(F.col(id_col).alias("id"), *carry, xq.alias("__xq"))
        .withColumn("__sd", (F.size("__xq") / m).cast("long"))
        .select(
            "id", *carry, F.posexplode(slices).alias("sub_idx", "subvec")
        )
    )


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    grid: int = 1000,
    code_scale: int = 100,
) -> list[list[list[int]]]:
    """Train product-quantization codebooks: split each (normalized,
    lattice-quantized) vector into ``m`` subspaces and run exact-integer
    Lloyd k-means with ``k`` codewords PER SUBSPACE — all ``m`` trainings
    share one job per iteration (subspaces ride as rows, the assignment
    UDF dispatches on sub_idx, the update is ONE hash-agg keyed by
    (sub_idx, code) whose m*k-row result is the only collect). Returns
    ``m x k x (dim/m)`` codewords on the ``code_scale``-finer lattice —
    model-sized (8*16*8 longs here), ship it like IVF centroids.

    This is the compression half of IVF-PQ (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): at 100 TB,
    8 one-byte codes replace 64 floats (32x), which is what lets a
    candidate scan stay in memory. Deterministic end-to-end: first-k-ids
    init per subspace, integer distances, floor-div centroid updates —
    the kmeans_exact discipline applied m times in parallel."""
    sub = _pq_subvectors(
        df, id_col=id_col, vec_col=vec_col, m=m, grid=grid
    )
    return _pq_train_sub(sub, m=m, k=k, iters=iters, code_scale=code_scale)


def _pq_train_sub(
    sub: DataFrame,
    *,
    m: int,
    k: int,
    iters: int,
    code_scale: int,
) -> list[list[list[int]]]:
    """The PQ Lloyd loop over an (id, sub_idx, subvec) frame — split out
    of :func:`pq_train` so residual-encoded variants (IVFADC: subvectors
    of ``xq - cell_centroid_q``) train through the identical
    deterministic machinery."""
    sub = sub.localCheckpoint(eager=True)  # every iteration re-reads this
    # (NOT fanned out before the pin — r15 A/B: the per-round Arrow
    # assignment is one numpy matmul per batch and ran FASTER as one fat
    # task than as 32 round-trip-dominated slivers.)
    # init in ONE job (r15): every id contributes exactly m subvector
    # rows (posexplode of the m-slice array), so the k*m smallest
    # (id, sub_idx) rows ARE the k smallest ids' full slice sets — the
    # old two-job form (top-k ids, then a join back) collected the same
    # rows. Re-sorted driver-side to the old (sub_idx, id) fill order.
    init = sorted(
        sub.orderBy("id", "sub_idx").limit(k * m).collect(),
        key=lambda r: (r["sub_idx"], r["id"]),
    )
    if not init:
        raise ValueError("pq_train: empty input")
    cbs: list[list[list[int]]] = [[] for _ in range(m)]
    for r in init:
        cbs[r["sub_idx"]].append(
            [int(x) * code_scale for x in r["subvec"]]
        )
    sd = len(init[0]["subvec"])
    # iters counts ASSIGNMENT rounds; the final assignment is implicit in
    # whatever the caller encodes with the returned codebooks, so exactly
    # iters-1 centroid updates run here (the old `if t == iters-1: break`
    # form built a dead lazy frame on the last pass and overstated the
    # Lloyd steps by one)
    for _ in range(max(0, iters - 1)):
        assigned = sub.withColumn(
            "code",
            _nearest_code_udf(cbs, code_scale)(
                F.col("sub_idx"), F.col("subvec")
            ),
        )
        upd = (
            assigned.groupBy("sub_idx", "code")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                # one parsed expression for the sd partial sums (r14
                # py4j finding; same aggregates)
                F.expr(
                    "array("
                    + ", ".join(f"sum(subvec[{i}])" for i in range(sd))
                    + ") AS __s"
                ),
            )
            .collect()  # m*k rows of sd ints — model-sized, documented
        )
        for r in upd:
            cbs[r["sub_idx"]][r["code"]] = [
                (int(s) * code_scale) // r["__n"] for s in r["__s"]
            ]
    return cbs


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1000,
    code_scale: int = 100,
) -> DataFrame:
    """(id, sub_idx, code) PQ codes — one map-only Arrow pass against the
    broadcast codebooks. Long-form layout is both the scoring-ready join
    shape and a fine parquet layout (partition by sub_idx, or pack the m
    codes into one binary column for 1-byte-per-code storage)."""
    m = len(codebooks)
    return _pq_subvectors(
        df, id_col=id_col, vec_col=vec_col, m=m, grid=grid
    ).select(
        "id",
        "sub_idx",
        _nearest_code_udf(codebooks, code_scale)(
            F.col("sub_idx"), F.col("subvec")
        ).alias("code"),
    )


def _pq_query_lut(
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    grid: int,
    q_rows=None,
) -> DataFrame:
    """The per-query ADC lookup table: (query_id, sub_idx, code, __pdot)
    rows of exact partial inner products query_subvector · codeword —
    driver-side numpy over the BOUNDED query set (the same model-sized
    budget as brute_force_topk's broadcast), shipped via Arrow
    local_frame. |queries| * m * n_codes rows.

    ``q_rows`` (r15): callers that already collected the query set (the
    IVF probe-list builders) pass their rows — with ``qid`` and the
    engine-quantized ``__qq`` fields — so one collect job serves both the
    probe list and the LUT instead of two."""
    from ..session import local_frame

    m = len(codebooks)
    nk = len(codebooks[0])
    if q_rows is None:
        q_rows = queries.select(
            F.col(id_col).alias("qid"),
            _pq_normalized_quantized(vec_col, grid).alias("__qq"),
        ).collect()  # bounded: queries are the small side by contract
    lut = []
    for r in q_rows:
        qv = np.array(r["__qq"], dtype=np.int64)
        sd = len(qv) // m
        for j in range(m):
            pd_j = np.array(codebooks[j], dtype=np.int64) @ qv[
                j * sd : (j + 1) * sd
            ]
            lut.extend(
                (r["qid"], j, c, int(pd_j[c])) for c in range(nk)
            )
    return local_frame(
        codes.sparkSession,
        lut,
        f"{query_id_col} long, sub_idx int, code long, __pdot long",
    )


def _pq_rank_scored(
    scored: DataFrame, *, k: int, query_id_col: str
) -> DataFrame:
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("id").alias("neighbor_id"),
            "rank",
            F.col("__score").alias("score"),
        )
    )


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    grid: int = 1000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query build the
    m x k table of exact partial inner products (``_pq_query_lut``),
    broadcast it, join on (sub_idx, code), and sum per (query, neighbor)
    — the scan reads CODES (m small ints/vector), never the float
    vectors, and the shuffle carries map-side-combined partial sums,
    |queries| x |corpus| rows. Scoring is 100% JVM relational (no UDF);
    ranking ties break on neighbor id. :func:`ivf_pq_topk` is the
    cell-pruned composition."""
    lut_df = _pq_query_lut(
        codes, codebooks, queries,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, grid=grid,
    )
    scored = (
        codes.join(
            F.broadcast(lut_df),
            ["sub_idx", "code"],
        )
        .groupBy(query_id_col, "id")
        .agg(F.sum("__pdot").alias("__score"))
    )
    return _pq_rank_scored(scored, k=k, query_id_col=query_id_col)


def pq_rerank_topk(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    *,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    grid: int = 1000,
) -> DataFrame:
    """The production PQ pipeline: ADC over codes builds a ``shortlist``
    of candidates per query (the compressed full scan — reads m small
    ints per vector, never the floats), then ONLY those |queries| x
    shortlist candidates fetch their true vectors for an exact cosine
    rerank (broadcast candidate-id semi-probe into the corpus — point
    lookups, the 100 TB body store is scanned by the CODES, not the
    floats). Self-matches excluded like brute_force_topk. Measured here:
    shortlist=50 holds recall@5 >= 0.92 across sf0.001-0.1 where raw ADC
    top-5 sits at 0.32-0.66 — the rerank step is what makes PQ's 16x
    compression usable."""
    sl = pq_topk(
        codes, codebooks, queries,
        k=shortlist, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, grid=grid,
    ).select(query_id_col, "neighbor_id")
    return _pq_exact_rerank(
        corpus, sl, queries,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def _pq_exact_rerank(
    corpus: DataFrame,
    sl: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact cosine rerank of shortlisted (query_id, neighbor_id) pairs:
    both the pair list and the query vectors broadcast INTO the corpus
    scan, so only candidate bodies leave the scan stage."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    pairs = c.join(F.broadcast(sl), "neighbor_id").join(
        F.broadcast(q), query_id_col
    )
    scored = pairs.filter(
        F.col("neighbor_id") != F.col(query_id_col)
    ).select(
        query_id_col,
        "neighbor_id",
        F.when(
            F.col("__qn") * F.col("__cn") > 0,
            dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
        ).alias("__score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "rank",
            F.round("__score", 4).alias("score"),
        )
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    iters: int = 3,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    grid: int = 1000,
) -> DataFrame:
    """The FULL IVF-PQ composition (Jégou et al., TPAMI 2011): coarse
    quantizer prunes to ``n_probe``/``n_centroids`` of the corpus, PQ
    codes stand in for vectors inside the probed cells (ADC via the
    broadcast lookup-table join), and the top-``shortlist`` candidates
    rerank exactly. At 100 TB this is the memory AND compute story in
    one: the candidate scan touches n_probe/n_centroids of the rows and
    m bytes of each, the floats load only for |queries| x shortlist
    point lookups.

    One pass over the corpus computes BOTH the cell assignment and the
    codes (`_pq_subvectors(carry_cols=["ivf_cluster"])` — no join-back);
    the probe list is driver-side numpy over the bounded query set (the
    LUT is already collected there) shipped via local_frame. Everything
    after is broadcast joins + one map-side-combined sum, no UDF in the
    scoring path."""
    from ..session import local_frame

    centroids = ivf_refined_centroids(
        corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    assigned = assign_ivf_clusters(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col)),
        centroids,
        vec_col=vec_col,
    )
    cbs = pq_train(
        corpus, id_col=id_col, vec_col=vec_col, m=m, k=n_codes,
        iters=iters, grid=grid,
    )
    codes_c = _pq_subvectors(
        assigned, id_col="id", vec_col=vec_col, m=m, grid=grid,
        carry_cols=["ivf_cluster"],
    ).select(
        "id",
        "ivf_cluster",
        "sub_idx",
        _nearest_code_udf(cbs, 100)(
            F.col("sub_idx"), F.col("subvec")
        ).alias("code"),
    )
    # per-query probe list: n_probe best cells by cosine, driver-side
    # numpy over the bounded query set (ties to the lowest cell id).
    # ONE collect serves probe list AND LUT (r15): the engine-quantized
    # __qq rides along so _pq_query_lut skips its own collect job.
    C = np.array([cv for _, cv in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.inf
    Cu = (C / cn[:, None]).T
    q_rows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        _pq_normalized_quantized(vec_col, grid).alias("__qq"),
    ).collect()
    probe_rows = []
    for r in q_rows:
        qv = np.array(r["__qv"], dtype=np.float64)
        n = np.linalg.norm(qv) or np.inf
        s = (qv / n) @ Cu
        order = np.lexsort((np.arange(len(s)), -s))[:n_probe]
        probe_rows.extend((r["qid"], int(cell)) for cell in order)
    probe_df = local_frame(
        corpus.sparkSession,
        probe_rows,
        f"{query_id_col} long, ivf_cluster int",
    )
    lut_df = _pq_query_lut(
        codes_c, cbs, queries,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, grid=grid, q_rows=q_rows,
    )
    scored = (
        codes_c.join(F.broadcast(probe_df), "ivf_cluster")
        .join(F.broadcast(lut_df), [query_id_col, "sub_idx", "code"])
        .groupBy(query_id_col, "id")
        .agg(F.sum("__pdot").alias("__score"))
    )
    sl = _pq_rank_scored(
        scored, k=shortlist, query_id_col=query_id_col
    ).select(query_id_col, "neighbor_id")
    return _pq_exact_rerank(
        corpus, sl, queries,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def _half_away(x: "np.ndarray") -> "np.ndarray":
    """Round-half-away-from-zero on float arrays — numpy's np.round is
    banker's (half-to-even), but Spark's F.round is HALF_UP, and the
    residual pipeline quantizes on BOTH sides (engine for vectors,
    driver numpy for centroids/queries); one rule everywhere keeps the
    integer lattice self-consistent."""
    return np.trunc(x + np.copysign(0.5, x)).astype(np.int64)


def _residual_subvectors(
    corpus: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    *,
    m: int,
    id_col: str,
    vec_col: str,
    grid: int,
) -> DataFrame:
    """(id, ivf_cluster, sub_idx, subvec) rows of RESIDUAL subvectors
    ``x̂q - ĉq(cell)``: one corpus pass computes the cell assignment AND
    the residual slices (no join-back); residuals are exact differences
    of two lattice vectors — the engine-quantized x̂ minus the
    driver-quantized ĉ shipped as broadcast literals, both under the
    same half-away rounding rule."""
    assigned = assign_ivf_clusters(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col)),
        centroids,
        vec_col=vec_col,
    )
    return _residual_subvectors_assigned(
        assigned, centroids, m=m, vec_col=vec_col, grid=grid
    )


def _residual_subvectors_assigned(
    assigned: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    *,
    m: int,
    vec_col: str,
    grid: int,
) -> DataFrame:
    """The residual-slicing core over a frame that ALREADY carries its
    cell (``id``, ``vec_col``, ``ivf_cluster``) — the persisted-index
    attach path reads assignments with cells stored, so re-assigning
    would be a wasted Arrow pass (and a correctness hazard if centroids
    ever drifted from the stored assignment)."""
    from ..session import local_frame

    C = np.array([cv for _, cv in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.inf
    CQ = _half_away(C / cn[:, None] * grid)
    cq_df = local_frame(
        assigned.sparkSession,
        [(i, [int(x) for x in CQ[i]]) for i in range(len(CQ))],
        "ivf_cluster int, __cq array<long>",
    )
    resid = (
        assigned.select(
            "id",
            "ivf_cluster",
            _pq_normalized_quantized(vec_col, grid).alias("__xq"),
        )
        .join(F.broadcast(cq_df), "ivf_cluster")
        .withColumn("__rq", F.zip_with("__xq", "__cq", lambda a, b: a - b))
    )
    # ONE parsed expression for the m slices (r14 py4j finding)
    slices = F.expr(
        "array("
        + ", ".join(
            f"slice(__rq, cast({j} * __sd + 1 as int), cast(__sd as int))"
            for j in range(m)
        )
        + ")"
    )
    return (
        resid.withColumn("__sd", (F.size("__rq") / m).cast("long"))
        .select(
            "id", "ivf_cluster",
            F.posexplode(slices).alias("sub_idx", "subvec"),
        )
    )


def ivf_pq_residual_train(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 32,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1000,
    code_scale: int = 100,
) -> "tuple[list[tuple[int, list[float]]], list[list[list[int]]]]":
    """TRAIN-once half of IVFADC: refined coarse centroids + residual PQ
    codebooks — both model-sized (ship them like any model file). The
    search half amortizes against these exactly as pq_rerank_topk does
    against pq_train's output."""
    centroids = ivf_refined_centroids(
        corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    sub = _residual_subvectors(
        corpus, centroids, m=m, id_col=id_col, vec_col=vec_col, grid=grid
    )
    cbs = _pq_train_sub(
        sub.select("id", "sub_idx", "subvec"),
        m=m, k=n_codes, iters=iters, code_scale=code_scale,
    )
    return centroids, cbs


def ivf_pq_residual_encode(
    corpus: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    codebooks: "list[list[list[int]]]",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1000,
    code_scale: int = 100,
) -> DataFrame:
    """(id, ivf_cluster, sub_idx, code) residual PQ codes — one map-only
    Arrow pass computing cells AND codes; parquet-partition by
    ivf_cluster for the directory-pruned production layout."""
    m = len(codebooks)
    sub = _residual_subvectors(
        corpus, centroids, m=m, id_col=id_col, vec_col=vec_col, grid=grid
    )
    return sub.select(
        "id",
        "ivf_cluster",
        "sub_idx",
        _nearest_code_udf(codebooks, code_scale)(
            F.col("sub_idx"), F.col("subvec")
        ).alias("code"),
    )


def ivf_pq_residual_search(
    corpus: DataFrame,
    codes: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    codebooks: "list[list[list[int]]]",
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    grid: int = 1000,
    code_scale: int = 100,
) -> DataFrame:
    """SEARCH half of IVFADC against prebuilt codes/centroids/codebooks:
    scoring decomposes dot(q̂,x̂) = dot(q̂,ĉ) + dot(q̂,r) into the residual
    ADC sum (broadcast LUT join — unchanged machinery, zero UDFs) plus
    one per-(query, probed-cell) int64 scalar (|queries| x n_probe rows,
    broadcast, scaled by ``code_scale`` to match the LUT's units), then
    exact-reranks the shortlist. ``corpus`` supplies only the
    |queries| x shortlist float point lookups."""
    from ..session import local_frame

    spark = corpus.sparkSession
    C = np.array([cv for _, cv in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.inf
    CQ = _half_away(C / cn[:, None] * grid)
    Cu = (C / cn[:, None]).T
    probe_rows: list = []
    cell_rows: list = []
    # ONE collect serves probe/cell rows AND the LUT (r15): the
    # engine-quantized __qq rides along so _pq_query_lut skips its own
    # collect job; the probe/cell math below stays driver-numpy exactly
    # as before.
    q_rows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        _pq_normalized_quantized(vec_col, grid).alias("__qq"),
    ).collect()
    for r in q_rows:
        qv = np.array(r["__qv"], dtype=np.float64)
        n = np.linalg.norm(qv) or np.inf
        s = (qv / n) @ Cu
        order = np.lexsort((np.arange(len(s)), -s))[:n_probe]
        qq = _half_away(qv / n * grid)
        for cell in order:
            probe_rows.append((r["qid"], int(cell)))
            cell_rows.append(
                (r["qid"], int(cell), int(qq @ CQ[cell]) * code_scale)
            )
    probe_df = local_frame(
        spark, probe_rows, f"{query_id_col} long, ivf_cluster int"
    )
    cell_df = local_frame(
        spark,
        cell_rows,
        f"{query_id_col} long, ivf_cluster int, __cdot long",
    )
    lut_df = _pq_query_lut(
        codes, codebooks, queries,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, grid=grid, q_rows=q_rows,
    )
    scored = (
        codes.join(F.broadcast(probe_df), "ivf_cluster")
        .join(F.broadcast(lut_df), [query_id_col, "sub_idx", "code"])
        .groupBy(query_id_col, "id", "ivf_cluster")
        .agg(F.sum("__pdot").alias("__rdot"))
        .join(F.broadcast(cell_df), [query_id_col, "ivf_cluster"])
        .withColumn("__score", F.col("__rdot") + F.col("__cdot"))
        .drop("ivf_cluster")
    )
    sl = _pq_rank_scored(
        scored, k=shortlist, query_id_col=query_id_col
    ).select(query_id_col, "neighbor_id")
    return _pq_exact_rerank(
        corpus, sl, queries,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    iters: int = 3,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    grid: int = 1000,
    code_scale: int = 100,
) -> DataFrame:
    """IVFADC proper (Jégou et al., TPAMI 2011 §IV), self-contained:
    train + encode + search in one call. PQ codebooks train on RESIDUALS
    ``r = x̂ - ĉ(cell)`` instead of raw vectors — residuals concentrate
    near zero once the coarse quantizer explains the cell mean, so the
    same (m, k) code budget spends its resolution on the part of the
    vector the cell doesn't already encode, and the ADC estimate
    tightens at identical storage cost (the measured shortlist gain over
    raw-vector codes is asserted in tests/test_similarity.py; on
    near-random corpora cell means are ~0 and residual == raw).
    Everything stays on the integer lattice end-to-end, so the whole
    pipeline is deterministic and partition-invariant. Production splits
    the halves: :func:`ivf_pq_residual_train` /
    :func:`ivf_pq_residual_encode` once, :func:`ivf_pq_residual_search`
    per query batch.

    100 TB shape identical to :func:`ivf_pq_topk`: one corpus pass
    computes cells AND residual codes; the candidate scan reads
    n_probe/n_centroids of the rows x m small ints; floats load only for
    the |queries| x shortlist exact rerank."""
    centroids, cbs = ivf_pq_residual_train(
        corpus, n_centroids=n_centroids, m=m, n_codes=n_codes,
        iters=iters, id_col=id_col, vec_col=vec_col, grid=grid,
        code_scale=code_scale,
    )
    codes = ivf_pq_residual_encode(
        corpus, centroids, cbs,
        id_col=id_col, vec_col=vec_col, grid=grid, code_scale=code_scale,
    )
    return ivf_pq_residual_search(
        corpus, codes, centroids, cbs, queries,
        k=k, n_probe=n_probe, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        grid=grid, code_scale=code_scale,
    )


def sparse_cosine_knn(
    vecs: DataFrame,
    query_ids: DataFrame,
    *,
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k between documents represented as SPARSE hash
    vectors (operators/text.py:hashed_doc_vectors rows: id, idx, c,
    norm2_sum) — the inverted-index formulation of sparse similarity:
    the dot product of two docs is the sum of c_a*c_b over SHARED hash
    slots, so candidate pairs come from an equi-join on ``idx`` (docs
    sharing no slot score 0 and are never paired — the whole point: the
    corpus is never crossed with itself, pair volume is sum-of-squared
    posting lengths, and document-frequency pruning caps the hot slots
    upstream). ``query_ids`` (a bounded (id) frame, broadcast) selects
    the probe side; self-matches excluded; ties break on neighbor id.

    100% relational: one broadcast semi-restricted join on idx, one
    map-side-combined (query, neighbor) sum, one per-query window — the
    same skeleton as BM25 retrieval, generalized to doc-vs-doc KNN.
    Exactly SQL-replayable (md5 hash family), so unlike the ANN family
    this one hash-oracles end-to-end."""
    q = vecs.join(F.broadcast(query_ids), "id").select(
        F.col("id").alias("query_id"),
        "idx",
        F.col("c").alias("__qc"),
        F.col("norm2_sum").alias("__qn2"),
    )
    pairs = (
        vecs.select(
            F.col("id").alias("neighbor_id"),
            "idx",
            F.col("c").alias("__nc"),
            F.col("norm2_sum").alias("__nn2"),
        )
        .join(F.broadcast(q), "idx")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = pairs.groupBy("query_id", "neighbor_id").agg(
        (
            F.sum(F.col("__qc") * F.col("__nc"))
            / F.sqrt(F.first("__qn2") * F.first("__nn2"))
        ).alias("__score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("__score", 4).alias("score"),
        )
    )


def attach_pq_codes(
    spark,
    index_dir: str,
    *,
    m: int = 16,
    n_codes: int = 32,
    iters: int = 3,
    grid: int = 1000,
    encoding: str = "raw",
) -> list[list[list[int]]]:
    """Attach PQ codes to the COMMITTED generation of a persisted IVF
    index: train codebooks over the stored vectors, write
    (id, sub_idx, code) partitioned by ivf_cluster under
    ``<gen>/pq_codes`` and the codebooks (with their family parameters)
    under ``<gen>/pq_codebooks`` — strictly ADDITIVE: assignments and
    centroids are untouched, re-running overwrites idempotently, and a
    retrain that commits a new generation simply lacks codes until the
    next attach (``ivf_pq_index_topk`` fails loudly, never silently
    searches stale codes against new cells). This is IVF-PQ's storage
    story: searches read m small ints per vector partition-pruned to the
    probed cells; the float vectors stay cold until the rerank's point
    lookups.

    ``encoding="residual"`` trains and encodes on ``x̂ - ĉ(cell)``
    against the generation's STORED centroids and assignments (no
    re-assignment pass) — IVFADC's persisted form, the strictly-better
    production config on clustered corpora. The encoding travels WITH
    the codebooks and the search dispatches on it, so raw-scored
    residual codes (or vice versa — silently wrong rankings both ways)
    are structurally impossible."""
    if encoding not in ("raw", "residual"):
        raise ValueError(f"unknown PQ encoding: {encoding!r}")
    gen = index_store.store_current(index_dir)
    assigned = spark.read.parquet(f"{gen}/assignments")
    if encoding == "residual":
        centroids = read_ivf_centroids(spark, index_dir)
        sub = _residual_subvectors_assigned(
            assigned.select("id", "vec", "ivf_cluster"), centroids,
            m=m, vec_col="vec", grid=grid,
        )
        cbs = _pq_train_sub(
            sub.select("id", "sub_idx", "subvec"),
            m=m, k=n_codes, iters=iters, code_scale=100,
        )
        codes = sub.select(
            "id",
            "ivf_cluster",
            "sub_idx",
            _nearest_code_udf(cbs, 100)(
                F.col("sub_idx"), F.col("subvec")
            ).alias("code"),
        )
    else:
        cbs = pq_train(
            assigned, id_col="id", vec_col="vec",
            m=m, k=n_codes, iters=iters, grid=grid,
        )
        codes = _pq_subvectors(
            assigned, id_col="id", vec_col="vec", m=m, grid=grid,
            carry_cols=["ivf_cluster"],
        ).select(
            "id",
            "ivf_cluster",
            "sub_idx",
            _nearest_code_udf(cbs, 100)(
                F.col("sub_idx"), F.col("subvec")
            ).alias("code"),
        )
    (
        codes.repartition(F.col("ivf_cluster"))
        .write.mode("overwrite")
        .partitionBy("ivf_cluster")
        .parquet(f"{gen}/pq_codes")
    )
    from ..session import local_frame

    cb_rows = [
        (j, c, list(map(int, cw)))
        for j, cb in enumerate(cbs)
        for c, cw in enumerate(cb)
    ]
    cb_df = local_frame(
        spark, cb_rows, "sub_idx int, code int, codeword array<long>"
    ).select(
        "sub_idx", "code", "codeword",
        F.lit(grid).alias("grid"),
        F.lit(100).alias("code_scale"),
        F.lit(encoding).alias("encoding"),
    )
    cb_df.coalesce(1).write.mode("overwrite").parquet(
        f"{gen}/pq_codebooks"
    )
    return cbs


def read_pq_codebooks(
    spark, index_dir: str
) -> "tuple[list[list[list[int]]], int, str]":
    """Load the committed generation's PQ codebooks:
    (codebooks, grid, encoding) where encoding is "raw" | "residual"
    ("raw" for pre-encoding-column indexes). Raises if the generation
    has no attached codes (post-retrain gap — the caller must
    re-attach, not search stale codes)."""
    gen = index_store.store_current(index_dir)
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(f"{gen}/pq_codebooks").collect()
    except AnalysisException as exc:
        raise FileNotFoundError(
            f"no PQ codes attached to the committed generation {gen} — "
            "run attach_pq_codes (a retrain commits a fresh generation "
            "without codes on purpose: stale codes against new cells "
            "would silently corrupt every search)"
        ) from exc
    m = max(r["sub_idx"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    cbs: list = [[None] * k for _ in range(m)]
    grid = rows[0]["grid"]
    encoding = rows[0].asDict().get("encoding", "raw")
    for r in rows:
        cbs[r["sub_idx"]][r["code"]] = [int(x) for x in r["codeword"]]
    return cbs, grid, encoding


def ivf_pq_index_topk(
    spark,
    queries: DataFrame,
    index_dir: str,
    *,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ search against the PERSISTED index: centroids and
    codebooks load once (model-sized), the probed cells' CODES stream
    off parquet already cell-partitioned (the broadcast probe join
    prunes whole partition directories — same pruning contract as
    ivf_index_topk), ADC scores relationally via the broadcast lookup
    table, and the shortlist reranks exactly against the stored vectors
    (broadcast candidate semi-probe into the assignments scan). The
    amortized production search path: build once, attach codes once,
    every query reads m ints per candidate vector. Scoring dispatches on
    the ENCODING stored with the codebooks: "raw" sums the LUT alone;
    "residual" (persisted IVFADC — attach_pq_codes(encoding="residual"))
    adds the per-(query, probed-cell) coarse term dot(q̂, ĉ), so
    raw-scoring residual codes (or vice versa) is structurally
    impossible."""
    from ..session import local_frame

    gen = index_store.store_current(index_dir)
    centroids = read_ivf_centroids(spark, index_dir)
    cbs, grid, encoding = read_pq_codebooks(spark, index_dir)
    C = np.array([cv for _, cv in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = np.inf
    CQ = _half_away(C / cn[:, None] * grid)
    Cu = (C / cn[:, None]).T
    probe_rows = []
    cell_rows = []
    # ONE collect serves probe/cell rows AND the LUT (r15): the
    # engine-quantized __qq rides along so _pq_query_lut skips its own
    # collect job; the probe/cell math below stays driver-numpy exactly
    # as before.
    q_rows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        _pq_normalized_quantized(vec_col, grid).alias("__qq"),
    ).collect()
    for r in q_rows:
        qv = np.array(r["__qv"], dtype=np.float64)
        n = np.linalg.norm(qv) or np.inf
        s = (qv / n) @ Cu
        order = np.lexsort((np.arange(len(s)), -s))[:n_probe]
        qq = _half_away(qv / n * grid)
        for cell in order:
            probe_rows.append((r["qid"], int(cell)))
            cell_rows.append(
                (r["qid"], int(cell), int(qq @ CQ[cell]) * 100)
            )
    probe_df = local_frame(
        spark, probe_rows, f"{query_id_col} long, ivf_cluster int"
    )
    codes = spark.read.parquet(f"{gen}/pq_codes")
    lut_df = _pq_query_lut(
        codes, cbs, queries,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, grid=grid, q_rows=q_rows,
    )
    if encoding == "residual":
        cell_df = local_frame(
            spark, cell_rows,
            f"{query_id_col} long, ivf_cluster int, __cdot long",
        )
        scored = (
            codes.join(F.broadcast(probe_df), "ivf_cluster")
            .join(F.broadcast(lut_df), [query_id_col, "sub_idx", "code"])
            .groupBy(query_id_col, "id", "ivf_cluster")
            .agg(F.sum("__pdot").alias("__rdot"))
            .join(F.broadcast(cell_df), [query_id_col, "ivf_cluster"])
            .withColumn("__score", F.col("__rdot") + F.col("__cdot"))
            .drop("ivf_cluster")
        )
    else:
        scored = (
            codes.join(F.broadcast(probe_df), "ivf_cluster")
            .join(F.broadcast(lut_df), [query_id_col, "sub_idx", "code"])
            .groupBy(query_id_col, "id")
            .agg(F.sum("__pdot").alias("__score"))
        )
    sl = _pq_rank_scored(
        scored, k=shortlist, query_id_col=query_id_col
    ).select(query_id_col, "neighbor_id")
    stored = spark.read.parquet(f"{gen}/assignments").select(
        F.col("id").alias(id_col), F.col("vec").alias(vec_col)
    )
    return _pq_exact_rerank(
        stored, sl, queries,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def compact_ivf_index(
    spark,
    index_dir: str,
    *,
    upto_batch: int,
    max_rows_per_file: "int | None" = None,
) -> "dict[str, int | bool]":
    """Compact the persisted IVF index's ingest history: every assignment
    partition with ``batch_seq <= upto_batch`` is rewritten under the
    single partition ``batch_seq = upto_batch`` — one file per cell —
    while later batches pass through with their batch_seq preserved. The
    small-files maintenance op of the persisted-index family (the
    OPTIMIZE/rewrite_data_files of table formats): every map-only ingest
    (:func:`append_to_ivf_index`) adds one file per touched cell, so a
    year of batches makes a probe open O(batches x n_probe) files; after
    compaction it opens O(n_probe + recent batches).

    Invariant: ids, vectors, norms, cells, centroids and any attached PQ
    codes are all UNCHANGED — only the file layout moves — so search
    results are bit-identical before and after (asserted in tests and
    gated in-engine by the registered query). Centroids, ``pq_codes``
    and ``pq_codebooks`` are carried row-for-row into the new generation
    (each by one Spark read and write).

    The lifecycle is the store's own — the same core as
    operators/index_store.py:compact_index, over the ``assignments``
    tree keyed by (batch_seq, ivf_cluster): the compacted state
    assembles invisibly under its own generation dir ``gen-c<N>`` and
    becomes visible in one atomic ``store_commit``; a replayed compaction
    with the same watermark finds CURRENT already naming its target and
    no-ops (fixpoint). Only compact batches whose ingest is
    checkpoint-COMMITTED: the monotone watermark is persisted in the
    generation (``COMPACTED_UPTO``) and :func:`append_to_ivf_index`
    refuses batch_ids at or below it — a late replay of a compacted-away
    batch would otherwise double its rows under a now-merged partition.

    ``max_rows_per_file`` (optional) salts giant cells across several
    target files (index_store.salted_repartition) — the skew guard for a
    hot cell holding a corpus-scale fraction.

    Returns the audit counts the caller gates on:
    ``rows_before/rows_after`` (must match — nothing lost or doubled),
    ``files_before/files_after``, ``batches_before/batches_after``,
    ``noop_replay``, and ``pq_codes_carried`` (read off the committed
    generation)."""

    def carry(_df, gen, new_gen):
        spark.read.parquet(f"{gen}/centroids").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{new_gen}/centroids")
        if not index_store._STORE_BACKEND.is_dir(f"{gen}/pq_codebooks"):
            return
        (
            spark.read.parquet(f"{gen}/pq_codes")
            .repartition(F.col("ivf_cluster"))
            .write.mode("overwrite")
            .partitionBy("ivf_cluster")
            .parquet(f"{new_gen}/pq_codes")
        )
        spark.read.parquet(f"{gen}/pq_codebooks").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{new_gen}/pq_codebooks")

    audit = index_store._compact_generation(
        spark,
        index_dir,
        upto_batch=upto_batch,
        subdir="assignments",
        keys=["batch_seq", "ivf_cluster"],
        split_col="id",
        max_rows_per_file=max_rows_per_file,
        carry=carry,
    )
    audit["pq_codes_carried"] = index_store._STORE_BACKEND.is_dir(
        f"{index_store.store_current(index_dir)}/pq_codebooks"
    )
    return audit
