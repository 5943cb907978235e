"""Generationed parquet store for persisted incremental indexes.

ONE atomic-commit + compaction-watermark lifecycle (build/append ->
compact -> replay-guard) shared by every persisted incremental index:
the DEDUP index family — sha256 fingerprint digests, simhash longs,
banded MinHash signatures, sparse inverted postings — the corpus tables
(aliases below), and the persisted IVF (ANN) index
(operators/similarity.py), whose pointer, watermark, replay refusal and
compaction (:func:`_compact_generation`, over its ``assignments`` tree
keyed by batch and cell) are these same functions, not a copy. Same
incremental-state-maintenance concern the reference solves with Glue
job bookmarks (reference batch_processing_IaC.py:300-304); the commit
trick is the table-format one (Delta ``_last_checkpoint`` / Iceberg
``version-hint.text``): every multi-file index state assembles
invisibly under its own generation dir and becomes visible in ONE
atomic pointer rename, so no crash point can expose half an index.

Layout under ``index_dir``::

    CURRENT                     -- pointer file naming the committed gen
    gen-<batch_id>/             -- created by the first append
        data/batch_seq=N/...    -- index rows, one partition per batch
        COMPACTED_UPTO          -- (post-compaction) replay watermark
    gen-c<N>/                   -- compaction generations

Why compaction needs the watermark: every map-only ingest adds one file
per batch partition, so a year of daily batches is ~365 files per index;
:func:`compact_index` rewrites all partitions at or below a
checkpoint-committed batch id under ONE partition — but a late replay of
a compacted-away batch would then APPEND a duplicate partition instead
of overwriting its original one, silently doubling rows. The watermark
is persisted in the generation and :func:`append_index` refuses batch
ids at or below it, loudly.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from ..io import read_parquet


class StoreBackend:
    """Storage-client seam for the store's CONTROL PLANE — the five
    small pointer/metadata operations every store function routes
    through. The data plane (parquet partitions) stays with Spark,
    whose Hadoop filesystem layer already speaks any store; it is only
    these driver-side probes and pointer flips that would otherwise
    hard-code POSIX. An object-store port implements exactly this
    protocol with the client's primitives — ``put_small_atomic`` as a
    conditional put (the Delta/Iceberg pointer trick), the listings as
    prefix listings, ``is_dir`` as a prefix existence check — and the
    whole lifecycle (commit, read, watermark, trigger, migration)
    follows with no further changes."""

    def read_small(self, path: str) -> str:
        """Full text of a small control file; FileNotFoundError when
        absent (the signal several callers branch on)."""
        raise NotImplementedError

    def put_small_atomic(self, path: str, text: str) -> None:
        """Write a small control file so readers see the OLD or the NEW
        content, never a torn middle — the commit primitive."""
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def list_names(self, path: str) -> "list[str]":
        """Immediate child names (files and dirs); FileNotFoundError
        when the path itself is absent."""
        raise NotImplementedError

    def list_files(self, path: str) -> "list[str]":
        """Immediate child FILE names only (metadata-only trigger
        counting); FileNotFoundError when the path is absent."""
        raise NotImplementedError

    def remove_tree(self, path: str) -> None:
        """Best-effort recursive removal (generation pruning)."""
        raise NotImplementedError


class LocalStoreBackend(StoreBackend):
    """POSIX default: atomic pointer flips via tmp + fsync +
    ``os.replace`` + best-effort directory fsync."""

    def read_small(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def put_small_atomic(self, path: str, text: str) -> None:
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        # fsync the directory too: os.replace orders the rename in the
        # page cache, but only a dir fsync makes it durable — without it
        # a power loss can surface an EMPTY (pre-rename) pointer, and
        # the store would then fail with a confusing parquet-path error
        # instead of the loud first-batch / foreign-layout signals.
        # Best-effort: some filesystems refuse O_RDONLY dir fsync
        # (EINVAL) — ordering is still preserved.
        try:
            dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:
            pass

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_names(self, path: str) -> "list[str]":
        return os.listdir(path)

    def list_files(self, path: str) -> "list[str]":
        with os.scandir(path) as it:
            return [e.name for e in it if e.is_file()]

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class FakeObjectStoreBackend(StoreBackend):
    """OBJECT-STORE-semantics backend over local storage — the second
    first-class StoreBackend, pinning the exact commit protocol the
    documented S3 port needs before any real client exists. The data
    plane still writes real files (exactly as Spark's s3a/Hadoop layer
    would against a bucket); what changes is every control-plane
    contract:

    - ``put_small_atomic`` is NOT a rename (object stores have none).
      It is the conditional-put loop the Delta/Iceberg-style pointer
      flip uses on S3 since conditional writes shipped: GET the current
      (content, etag) -> on absence PUT-if-absent (``If-None-Match: *``)
      -> otherwise PUT-if-match (``If-Match: <etag>``) -> on a
      precondition failure (a concurrent committer won the race)
      re-read and retry. The primitives are public
      (:meth:`put_if_absent` / :meth:`put_if_match`) because they ARE
      the port's protocol; the S3 client maps them 1:1 onto the two
      header forms.
    - ``is_dir`` is PREFIX existence: a "directory" exists iff at least
      one object lives under it — an empty local directory is invisible
      here, exactly as on a bucket.
    - ``list_names``/``list_files`` are delimiter-``/`` prefix listings
      reconstructed from object keys, not readdir.
    - ``remove_tree`` is delete-by-prefix.

    Single-process linearization uses one lock (a bucket serializes
    conditional puts per key server-side); ``contend_hook``, when set,
    runs between the GET and the conditional PUT — the test seam that
    forces the CAS retry path a real concurrent committer would."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self.contend_hook = None
        self.cas_retries = 0  # observability: how often the loop looped

    # -- the port protocol: the two conditional-put primitives --------
    def put_if_absent(self, path: str, text: str) -> bool:
        """PUT with ``If-None-Match: *``: succeed only if no object
        exists at ``path``. Returns False on precondition failure."""
        with self._lock:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "w") as fh:
                fh.write(text)
            return True

    def put_if_match(self, path: str, text: str, etag: str) -> bool:
        """PUT with ``If-Match: <etag>``: succeed only if the object's
        current etag equals ``etag``. Returns False on precondition
        failure (missing object or a concurrent overwrite)."""
        with self._lock:
            try:
                if self._etag(path) != etag:
                    return False
            except FileNotFoundError:
                return False
            tmp = os.path.join(
                os.path.dirname(path) or ".",
                f".{os.path.basename(path)}.swap.tmp",
            )
            with open(tmp, "w") as fh:
                fh.write(text)
            os.replace(tmp, path)  # emulates the object's atomic swap
            return True

    @staticmethod
    def _etag(path: str) -> str:
        import hashlib

        with open(path, "rb") as fh:
            return hashlib.md5(fh.read()).hexdigest()

    # -- StoreBackend contract ----------------------------------------
    def read_small(self, path: str) -> str:
        if not os.path.isfile(path):
            raise FileNotFoundError(path)
        with open(path) as fh:
            return fh.read()

    def put_small_atomic(self, path: str, text: str) -> None:
        for _ in range(64):
            try:
                etag = self._etag(path)
            except FileNotFoundError:
                etag = None
            if self.contend_hook is not None:
                self.contend_hook(path)
            ok = (
                self.put_if_absent(path, text)
                if etag is None
                else self.put_if_match(path, text, etag)
            )
            if ok:
                return
            self.cas_retries += 1
        raise OSError(
            f"put_small_atomic: conditional put at {path} lost 64 "
            "consecutive races — livelocked committer"
        )

    def _walk_keys(self, prefix: str) -> "list[str]":
        keys = []
        for dirpath, _dirs, files in os.walk(prefix):
            for f in files:
                # a real object store has no tmp keys: the CAS swap
                # file is local plumbing, never part of the namespace.
                # The reserved pattern is collision-proof by dot-prefix
                # + suffix — put_if_absent CAN legitimately create a key
                # named '*.swap', and hiding those would split the
                # namespace from the data plane (r13 ADVICE).
                if not (f.startswith(".") and f.endswith(".swap.tmp")):
                    keys.append(os.path.join(dirpath, f))
        return keys

    def is_dir(self, path: str) -> bool:
        # prefix existence: empty local dirs are invisible, as on a
        # bucket (objects define the namespace, directories don't exist)
        return bool(self._walk_keys(path))

    def list_names(self, path: str) -> "list[str]":
        keys = self._walk_keys(path)
        if not keys:
            raise FileNotFoundError(path)
        pref = path.rstrip("/") + "/"
        return sorted(
            {k[len(pref):].split(os.sep, 1)[0] for k in keys}
        )

    def list_files(self, path: str) -> "list[str]":
        names = self.list_names(path)
        return [
            n for n in names
            if os.path.isfile(f"{path.rstrip('/')}/{n}")
        ]

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


#: Process-wide control-plane client. Swap with set_store_backend for an
#: object-store port (or a fake in tests); module-global because store
#: paths, not store handles, are the API every caller already holds.
_STORE_BACKEND: StoreBackend = LocalStoreBackend()


def set_store_backend(backend: StoreBackend) -> StoreBackend:
    """Install a control-plane client; returns the previous one so
    tests/ports can restore it."""
    global _STORE_BACKEND
    prev = _STORE_BACKEND
    _STORE_BACKEND = backend
    return prev


def store_commit(index_dir: str, gen_name: str) -> None:
    """Atomically flip the store's CURRENT pointer to ``gen_name``
    (backend ``put_small_atomic`` — POSIX rename locally, conditional
    put on an object store)."""
    _STORE_BACKEND.put_small_atomic(f"{index_dir}/CURRENT", gen_name)


def store_current(index_dir: str) -> str:
    """Resolve the committed generation dir. Loud when the store was
    never committed — readers must not guess at half-written state.
    (Callers treating "no index yet" as a normal first-batch case catch
    FileNotFoundError specifically; any OTHER read failure — storage
    error, corrupted footer — keeps raising through the parquet scan.)"""
    try:
        gen = _STORE_BACKEND.read_small(f"{index_dir}/CURRENT").strip()
    except FileNotFoundError as exc:
        _assert_store_layout(index_dir)
        raise FileNotFoundError(
            f"no committed index at {index_dir} (CURRENT pointer missing "
            "— no append ever completed here)"
        ) from exc
    # Validate the pointer names a real generation dir: a torn/empty
    # CURRENT (crash between create and fsync on a non-ordering
    # filesystem) must fail HERE with a descriptive store error, not
    # three frames later as a baffling parquet path-not-found. The
    # probe routes through the StoreBackend seam (prefix existence
    # check on an object store) — keep the gen-* name check either way.
    if not gen.startswith("gen-") or not _STORE_BACKEND.is_dir(
        f"{index_dir}/{gen}"
    ):
        raise ValueError(
            f"corrupt CURRENT pointer at {index_dir}: {gen!r} does not "
            "name an existing gen-* directory — the pointer file is torn "
            "or foreign. Recover by re-committing the newest complete "
            "generation (store_commit) or migrating the tree."
        )
    return f"{index_dir}/{gen}"


def _assert_store_layout(index_dir: str) -> None:
    """A missing CURRENT pointer must mean 'nothing committed yet' — a
    nonexistent/empty dir, or a crash-window tree holding only ``gen-*``
    dirs (a first append that died before its commit; the replay re-runs
    the same path, a fixpoint). ANYTHING else under ``index_dir`` is a
    foreign layout — e.g. a pre-store bare ``batch_seq=*`` parquet tree
    from before the generationed contract — and treating it as
    first-batch would silently ignore ALL history: every duplicate would
    ingest AND append, permanent corpus duplication with no error
    surfaced. Refuse loudly instead; such trees need a one-time
    migration (append each old partition via :func:`append_index`)."""
    try:
        entries = _STORE_BACKEND.list_names(index_dir)
    except FileNotFoundError:
        return
    foreign = [
        e for e in entries
        if not e.startswith("gen-") and e != "CURRENT.tmp"
    ]
    if foreign:
        raise ValueError(
            f"unrecognized index layout at {index_dir}: no CURRENT "
            f"pointer but found {sorted(foreign)[:3]} — not a "
            "generationed store. A pre-store bare parquet tree must be "
            "migrated (re-append its batch partitions), not silently "
            "treated as an empty first-batch index."
        )


def store_watermark(gen_dir: str) -> "int | None":
    """The generation's persisted compaction watermark, if any."""
    try:
        return int(
            _STORE_BACKEND.read_small(f"{gen_dir}/COMPACTED_UPTO").strip()
        )
    except FileNotFoundError:
        return None


def prune_store_generations(index_dir: str) -> None:
    """Best-effort removal of non-current generation dirs (a crash
    between commit and prune leaves garbage, never corruption)."""
    keep = os.path.basename(store_current(index_dir))
    for name in _STORE_BACKEND.list_names(index_dir):
        if name.startswith("gen-") and name != keep:
            _STORE_BACKEND.remove_tree(f"{index_dir}/{name}")


def read_index(
    spark,
    index_dir: str,
    *,
    as_of_batch: "int | None" = None,
    lineage_col: "str | None" = None,
) -> DataFrame:
    """The committed generation's index rows (payload columns +
    ``batch_seq``) — the supported way to read the store; generation
    dirs are an implementation detail. Raises FileNotFoundError when no
    generation was ever committed (the first-batch signal).

    ``as_of_batch=K`` is the store's SNAPSHOT read — "the corpus exactly
    as it stood after ingest batch K committed", the reproducibility
    contract a training run needs ("which snapshot trained model X").
    No copied history and no retention policy is required, because the
    lifecycle already guarantees the current generation CONTAINS every
    snapshot: appends land under their own ``batch_seq`` partition and
    compaction merges rows without changing them, so a snapshot is a
    filter, not a restore:

    * ``K`` at or above the compaction watermark (or an uncompacted
      store): ``batch_seq <= K`` is exact — merged batches remap DOWN to
      the watermark, never up — and it prunes PARTITIONS, so at a 100 TB
      rolling corpus the read costs the snapshot's directories, not a
      scan (same contract as the own-batch exclusion,
      tests/test_plans.py).
    * ``K`` BELOW the watermark: those batches' partitions were merged,
      so layout alone cannot recover the boundary. Stores that stamp
      per-row arrival lineage as a DATA column (the store-backed table
      ingests' ``ingest_batch`` — operators/index_store.py table-alias
      note) pass ``lineage_col``: rows are filtered on lineage while
      ``batch_seq <= watermark`` still prunes every post-watermark
      partition. Without lineage the read REFUSES loudly — returning
      the merged superset would silently include post-K rows.
    """
    gen = store_current(index_dir)
    df = _read_tree(spark, gen)
    if as_of_batch is None:
        return df
    watermark = store_watermark(gen)
    if lineage_col is not None:
        # Exact for every row (lineage == batch id at append time and
        # survives compaction untouched); batch_seq still prunes all
        # partitions newer than the snapshot horizon. Explicit None
        # check: a legitimate watermark of 0 is falsy, and `watermark
        # or as_of_batch` would silently fall back — coincidentally
        # harmless today (0 never exceeds a non-negative as_of_batch)
        # but an off-by-one trap if batch-id semantics ever shift.
        horizon = (
            as_of_batch if watermark is None else max(as_of_batch, watermark)
        )
        return df.filter(
            (F.col("batch_seq") <= F.lit(horizon))
            & (F.col(lineage_col) <= F.lit(as_of_batch))
        )
    if watermark is not None and as_of_batch < watermark:
        raise ValueError(
            f"snapshot as_of_batch={as_of_batch} is below this store's "
            f"compaction watermark {watermark}: those batches' partitions "
            "were merged, so the boundary is gone from the layout. Stamp "
            "per-row lineage as a data column at append time and pass "
            "lineage_col (the store-backed table ingests' ingest_batch), "
            "or compact less aggressively."
        )
    return df.filter(F.col("batch_seq") <= F.lit(as_of_batch))


def assert_appendable(index_dir: str, batch_id: int) -> None:
    """Raise when ``batch_id`` is at or below the committed generation's
    compaction watermark — BEFORE any write. Ingest compositions that
    write a TABLE partition and then append the INDEX partition must call
    this first: a replayed compacted batch excludes "its own" batch_seq
    partition from the index read, but after compaction that partition
    holds the MERGED history, so the replay would recompute survivors
    with no history and dynamic-overwrite a corrupted table partition
    before :func:`append_index`'s own refusal fired. A never-committed
    store is appendable (the first-batch case)."""
    try:
        gen = store_current(index_dir)
    except FileNotFoundError:
        return
    watermark = store_watermark(gen)
    if watermark is not None and batch_id <= watermark:
        raise ValueError(
            f"batch_id {batch_id} is at or below this index's compaction "
            f"watermark {watermark} — its original partition was merged "
            "by compact_index, so a replayed ingest would double its "
            "rows instead of overwriting them. Only compact batches "
            "whose ingest is checkpoint-committed; new batches need "
            "fresh ids."
        )


def _payload_schema(schema: StructType) -> StructType:
    """``schema`` without ``batch_seq``, which partition discovery adds."""
    return StructType(
        [f for f in schema.fields if f.name.lower() != "batch_seq"]
    )


def _schema_contract(schema: StructType) -> "dict[str, str]":
    """Append-guard form of a payload schema: lower-cased name -> type
    simpleString. Name-keyed (parquet resolves columns by name, so order
    is immaterial) and nullability-blind (Spark's inferred nullability
    is not stable across writers)."""
    return {f.name.lower(): f.dataType.simpleString() for f in schema.fields}


def _write_schema(gen_dir: str, payload: StructType) -> None:
    """Persist the generation's payload schema as ``SCHEMA``: lower-cased
    name -> that field's StructField JSON, in column order."""
    _STORE_BACKEND.put_small_atomic(
        f"{gen_dir}/SCHEMA",
        json.dumps({f.name.lower(): f.jsonValue() for f in payload.fields}),
    )


def _read_schema(gen_dir: str) -> "StructType | None":
    """The generation's payload schema from ``SCHEMA``; None when the file
    is absent or in the flat name -> type-string form of older stores."""
    try:
        stored = json.loads(_STORE_BACKEND.read_small(f"{gen_dir}/SCHEMA"))
    except FileNotFoundError:
        return None
    if not (
        isinstance(stored, dict)
        and stored
        and all(isinstance(v, dict) for v in stored.values())
    ):
        return None
    return StructType([StructField.fromJson(v) for v in stored.values()])


def _read_tree(spark, gen_dir: str, subdir: str = "data") -> DataFrame:
    """One tree of a committed generation. The ``data`` tree is read with
    the payload schema from ``SCHEMA`` (``batch_seq`` comes from partition
    discovery), so no Spark job infers it; any other tree, or a ``data``
    tree with no usable ``SCHEMA``, goes through :func:`io.read_parquet`."""
    schema = _read_schema(gen_dir) if subdir == "data" else None
    if schema is None:
        return read_parquet(spark, f"{gen_dir}/{subdir}")
    return spark.read.schema(schema).parquet(f"{gen_dir}/{subdir}")


def assert_append_schema(df: DataFrame, gen_dir: str) -> None:
    """Refuse a batch whose payload schema DRIFTED from the store's
    contract — BEFORE any write. Without this, a parquet tree accretes
    heterogeneous per-partition schemas and ``read_index`` silently
    resolves to ONE file's footer: columns added by newer batches
    vanish from reads at random (engine-demonstrated — the read schema
    depends on which footer Spark samples), which at a 100 TB rolling
    corpus is silent data loss discovered months later. The contract
    lives in the generation as a small ``SCHEMA`` file (one driver-side
    read per append, no Spark job, no directory listing — object-store
    friendly, same seam notes as the CURRENT pointer). The file holds
    the payload's full schema — lower-cased column name -> StructField
    JSON, in column order, ``batch_seq`` excluded — which
    :func:`read_index` passes to the reader; the guard compares only
    the name-keyed, case-insensitive, nullability-blind type map derived
    from it (:func:`_schema_contract`). Stores whose ``SCHEMA`` is
    missing, or in the older flat name -> type-string form, self-heal by
    deriving it from the committed footers once and persisting it in
    the current form. Schema EVOLUTION is a deliberate non-feature: an
    index/table store's payload is its contract — a new column means a
    new store (or an offline rewrite), never an in-place drift."""
    got = _schema_contract(_payload_schema(df.schema))
    stored = _read_schema(gen_dir)
    if stored is None:
        # pre-contract store: derive from the committed data once and
        # persist — the footer read costs one Spark-metadata pass, paid
        # only on the first post-upgrade append. mergeSchema=true reads
        # ALL footers, not one sampled footer: if the pre-contract tree
        # already accreted heterogeneous partition schemas (exactly the
        # condition this guard exists for), a single-footer derivation
        # would bake a nondeterministic contract — which appends get
        # refused would depend on which footer Spark happened to sample.
        # The merged view surfaces the drift instead: a column only some
        # partitions carry heals into the contract as present, and the
        # next short append refuses loudly with the column named.
        stored = _payload_schema(
            df.sparkSession.read.option("mergeSchema", "true")
            .parquet(f"{gen_dir}/data")
            .schema
        )
        _write_schema(gen_dir, stored)
    want = _schema_contract(stored)
    if got != want:
        added = sorted(set(got) - set(want))
        missing = sorted(set(want) - set(got))
        retyped = sorted(
            f"{c}: {want[c]} -> {got[c]}"
            for c in set(want) & set(got)
            if want[c] != got[c]
        )
        raise ValueError(
            f"append refused: batch schema drifted from the store "
            f"contract at {gen_dir} (added={added}, missing={missing}, "
            f"retyped={retyped}). Heterogeneous partition schemas make "
            "reads resolve to one random footer — write matching "
            "columns, or create a new store for the new payload."
        )


def append_index(df: DataFrame, index_dir: str, *, batch_id: int) -> None:
    """Ingest one batch of index rows under its own ``batch_seq``
    partition — dynamic overwrite, so a crashed-and-replayed ingest with
    the same replay-stable ``batch_id`` rewrites exactly its own
    partition instead of duplicating it (the streaming/pipeline.py
    exactly-once contract). ``df`` carries the payload columns only;
    ``batch_seq`` is stamped here.

    First append (no CURRENT yet) creates generation ``gen-<batch_id>``
    and commits it; a crash before the commit leaves no CURRENT, so the
    replay takes the same first-append path — a fixpoint.

    Refuses BEFORE any write: ``batch_id`` at or below the committed
    generation's compaction watermark (those batches' original
    partitions were merged away by :func:`compact_index`, so a replayed
    ingest would double their rows instead of overwriting them — only
    compact batches whose ingest is checkpoint-committed; new batches
    need fresh ids), and a payload schema that drifted from the store's
    contract (:func:`assert_append_schema` — heterogeneous partition
    schemas make reads silently drop columns)."""
    assert_appendable(index_dir, batch_id)
    payload = df.withColumn("batch_seq", F.lit(batch_id))
    try:
        gen = store_current(index_dir)
    except FileNotFoundError:
        gname = f"gen-{batch_id}"
        (
            payload.write.mode("overwrite")
            .partitionBy("batch_seq")
            .parquet(f"{index_dir}/{gname}/data")
        )
        _write_schema(f"{index_dir}/{gname}", _payload_schema(df.schema))
        store_commit(index_dir, gname)
        return
    assert_append_schema(df, gen)
    (
        payload.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_seq")
        .parquet(f"{gen}/data")
    )


def layout_audit(df: DataFrame) -> "tuple[int, int, int]":
    """(rows, files, batches) of a batch-partitioned tree in ONE
    aggregation job — file count via input_file_name so the audit is
    engine-side and works on any filesystem the scan does (no driver
    directory walk)."""
    r = (
        df.select("batch_seq", F.input_file_name().alias("__f"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("__f").alias("files"),
            F.countDistinct("batch_seq").alias("batches"),
        )
        .collect()[0]
    )
    return int(r["rows"]), int(r["files"]), int(r["batches"])


def salted_repartition(
    df: DataFrame,
    keys: "list[str]",
    *,
    split_col: str,
    max_rows_per_file: "int | None" = None,
) -> DataFrame:
    """Repartition on the layout keys, optionally salting GIANT key
    groups across several shuffle partitions so no target file exceeds
    ~``max_rows_per_file`` rows — the skew guard for compaction rewrites
    (one partition per key is a hazard when one key holds a corpus-scale
    fraction, e.g. a hot IVF cell). The per-key salt fan-out comes from
    one map-side-combined count aggregate whose result is key-cardinality
    sized (broadcast back, never collected to the driver); the salt
    itself is a deterministic hash of ``split_col``, so the rewrite stays
    partition-invariant."""
    key_cols = [F.col(k) for k in keys]
    if max_rows_per_file is None:
        return df.repartition(*key_cols)
    fanout = (
        df.groupBy(*key_cols)
        .agg(
            F.ceil(F.count(F.lit(1)) / F.lit(max_rows_per_file))
            .cast("int")
            .alias("__nsalt")
        )
    )
    # total target file count — ONE long to the driver (model-sized); the
    # explicit partition count both sizes the shuffle to the write's
    # intended layout and keeps AQE from coalescing the salt groups back
    # into one task (which would undo the split on small inputs).
    # `or 0`: SUM over an empty frame is NULL — an empty input must stay
    # the same no-op the unsalted path gives it, not an int(None) crash
    n_files = int(fanout.agg(F.sum("__nsalt")).first()[0] or 0)
    if n_files == 0:
        return df.repartition(*key_cols)
    # eqNullSafe, not a bare equi-join: a null layout key never
    # equi-matches, so plain `.join(fanout, keys)` would silently DROP
    # null-keyed rows — diverging from the unsalted path (and from the
    # write itself, which files nulls under key=__HIVE_DEFAULT_PARTITION__).
    # Current callers (batch_seq, ivf_cluster) are never null, but
    # append_to_ivf_index(max_rows_per_file=...) has no audit gate to
    # catch the loss, so the helper must be null-correct on its own.
    fo = fanout.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys], "__nsalt"
    )
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else (cond & c)
    salted = (
        df.join(F.broadcast(fo), cond)
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col(split_col)), F.col("__nsalt")),
        )
        .repartition(max(1, 2 * n_files), *key_cols, F.col("__salt"))
        .drop("__nsalt", "__salt", *[f"__k_{k}" for k in keys])
    )
    return salted


def compact_index(
    spark,
    index_dir: str,
    *,
    upto_batch: int,
    split_col: "str | None" = None,
    max_rows_per_file: "int | None" = None,
) -> "dict[str, int | bool]":
    """Compact the store's ingest history: every partition with
    ``batch_seq <= upto_batch`` is rewritten under the single partition
    ``batch_seq = upto_batch`` while later batches pass through with
    their batch_seq preserved — the OPTIMIZE/rewrite_data_files of the
    incremental-index family. Rows are UNCHANGED (only the file layout
    moves), so index probes are bit-identical before and after — the
    audit counts returned here let callers gate on exactly that.

    Crash/replay story (same contract as :func:`append_index`): the
    compacted state assembles invisibly under its own generation dir
    ``gen-c<N>`` and becomes visible in :func:`store_commit`'s single
    atomic pointer rename; a replayed compaction with the same watermark
    finds CURRENT already naming its target and no-ops (fixpoint). The
    watermark persists in the generation (``COMPACTED_UPTO``) and must be
    MONOTONE: compacting below a previous watermark would re-admit
    replays of already-merged batches — the silent row-doubling the
    guard exists to stop.

    ``max_rows_per_file`` (optional) salts giant merged partitions across
    several files via :func:`salted_repartition` on ``split_col``
    (default: the first payload column).

    Returns ``rows_before/rows_after`` (must match — nothing lost or
    doubled), ``files_before/files_after``, ``batches_before/
    batches_after``, and ``noop_replay``."""
    return _compact_generation(
        spark,
        index_dir,
        upto_batch=upto_batch,
        subdir="data",
        keys=["batch_seq"],
        split_col=split_col,
        max_rows_per_file=max_rows_per_file,
        # the schema contract travels with the generation (compaction
        # never changes the payload schema — derive from the rows read)
        carry=lambda df, _gen, new_gen: _write_schema(
            new_gen, _payload_schema(df.schema)
        ),
    )


def _compact_generation(
    spark,
    index_dir: str,
    *,
    upto_batch: int,
    subdir: str,
    keys: "list[str]",
    split_col: "str | None",
    max_rows_per_file: "int | None",
    carry,
) -> "dict[str, int | bool]":
    """The one compaction lifecycle behind :func:`compact_index` and
    operators/similarity.py:compact_ivf_index: rewrite the committed
    generation's ``subdir`` tree (partitioned by ``keys``, ``batch_seq``
    first) with every ``batch_seq <= upto_batch`` remapped to
    ``upto_batch``, under the fresh generation ``gen-c<upto_batch>``.
    ``carry(df, gen, new_gen)`` writes whatever else the new generation
    holds beside the rewritten tree (``df`` is the pre-compaction read)
    before the watermark, the after-audit and the commit."""
    gen = store_current(index_dir)
    prev = store_watermark(gen)
    if prev is not None and upto_batch < prev:
        # A lower watermark would REGRESS the replay guard: batches in
        # (upto_batch, prev] were already merged away, and rewriting
        # COMPACTED_UPTO below them would re-admit their replays.
        raise ValueError(
            f"compaction watermark must be monotone: index already "
            f"compacted up to batch {prev}, got upto_batch={upto_batch}"
        )
    name = f"gen-c{upto_batch}"
    if os.path.basename(gen.rstrip("/")) == name:
        # Replay of an already-committed compaction: CURRENT is flipped
        # last, so if it names our target the generation is complete.
        rows, files, batches = layout_audit(_read_tree(spark, gen, subdir))
        return {
            "rows_before": rows, "rows_after": rows,
            "files_before": files, "files_after": files,
            "batches_before": batches, "batches_after": batches,
            "noop_replay": True,
        }
    new_gen = f"{index_dir}/{name}"
    df = _read_tree(spark, gen, subdir)
    rows_b, files_b, batches_b = layout_audit(df)
    remapped = df.withColumn(
        "batch_seq",
        F.when(F.col("batch_seq") <= upto_batch, F.lit(upto_batch))
        .otherwise(F.col("batch_seq"))
        .cast("long"),
    )
    if split_col is None:
        split_col = next(c for c in df.columns if c != "batch_seq")
    (
        # one shuffle keyed exactly like the layout: one file per
        # surviving partition, or several for a salted giant one
        salted_repartition(
            remapped,
            keys,
            split_col=split_col,
            max_rows_per_file=max_rows_per_file,
        )
        .write.mode("overwrite")
        .partitionBy(*keys)
        .parquet(f"{new_gen}/{subdir}")
    )
    carry(df, gen, new_gen)
    _STORE_BACKEND.put_small_atomic(
        f"{new_gen}/COMPACTED_UPTO", str(upto_batch)
    )
    rows_a, files_a, batches_a = layout_audit(
        _read_tree(spark, new_gen, subdir)
    )
    store_commit(index_dir, name)
    prune_store_generations(index_dir)
    return {
        "rows_before": rows_b, "rows_after": rows_a,
        "files_before": files_b, "files_after": files_a,
        "batches_before": batches_b, "batches_after": batches_a,
        "noop_replay": False,
    }


# --- table-flavored entry points -------------------------------------
# The store contract is PAYLOAD-AGNOSTIC: nothing above inspects the
# columns beyond stamping/partitioning batch_seq, so the corpus TABLES
# the rolling-ingest compositions write (full document rows, one
# partition per micro-batch) share the exact lifecycle the indexes
# proved out — committed generation pointer, atomic compaction flip,
# monotone COMPACTED_UPTO watermark, append-refusal of compacted-away
# replays, salt-split of giant merged partitions. At a 100 TB rolling
# corpus the TABLE hits small-files before the index does (its
# partitions are document-sized, not digest-sized), and a replayed
# batch after table compaction is the same silent row-doubling the
# index guard stops — so tables get the SAME store, under names that
# read correctly at the call site. One caveat the aliases inherit:
# compaction REMAPS the batch_seq partition value of merged batches, so
# a table that needs per-row arrival lineage must carry it as a DATA
# column (the store-backed ingest stamps ``ingest_batch``) and treat
# batch_seq as layout metadata, exactly like a lakehouse OPTIMIZE
# rewrites files without touching logical rows.
append_table = append_index
read_table = read_index
compact_table = compact_index
assert_table_appendable = assert_appendable


def migrate_bare_tree(spark, index_dir: str) -> "dict[str, int | bool]":
    """One-time migration of a PRE-STORE bare ``batch_seq=*`` parquet
    tree into the generationed contract — the operation the foreign-
    layout refusal (:func:`_assert_store_layout`) tells the operator to
    perform. All existing batch partitions are re-read with their
    partition values intact (``basePath`` keeps ``batch_seq`` as a
    column, and only the named partition dirs are read, so a stray
    crashed generation dir cannot leak in), rewritten under ONE fresh
    generation in a single job, committed atomically, and the bare
    source dirs removed — after which :func:`append_index` /
    :func:`read_index` work normally and history is preserved (no
    silent first-batch restart, no duplication).

    Crash/replay is a fixpoint: a crash before :func:`store_commit`
    leaves the bare tree authoritative (the replay rewrites the same
    generation); a crash AFTER the commit but before source cleanup is
    detected by CURRENT existing alongside leftover bare dirs — the
    replay finishes the cleanup and reports ``noop_replay``. Returns
    ``rows_before/rows_after`` (must match), ``files_after``,
    ``batches`` (count migrated), ``noop_replay``."""
    try:
        entries = _STORE_BACKEND.list_names(index_dir)
    except FileNotFoundError:
        raise ValueError(
            f"nothing to migrate at {index_dir}: directory does not exist"
        ) from None
    bare = sorted(e for e in entries if e.startswith("batch_seq="))
    if "CURRENT" in entries:
        if not bare:
            raise ValueError(
                f"{index_dir} is already a committed generationed store "
                "with no bare batch_seq=* partitions — nothing to migrate"
            )
        # Replay after a crash between commit and cleanup: the committed
        # generation already holds the migrated rows; finish the cleanup.
        gen = store_current(index_dir)
        rows, files, batches = layout_audit(read_index(spark, index_dir))
        for d in bare:
            _STORE_BACKEND.remove_tree(f"{index_dir}/{d}")
        return {
            "rows_before": rows, "rows_after": rows,
            "files_after": files, "batches": batches,
            "noop_replay": True,
        }
    if not bare:
        raise ValueError(
            f"nothing to migrate at {index_dir}: no bare batch_seq=* "
            "partitions and no CURRENT pointer"
        )
    try:
        ids = [int(d.split("=", 1)[1]) for d in bare]
    except ValueError:
        raise ValueError(
            f"cannot migrate {index_dir}: non-integer batch_seq "
            f"partition values in {bare[:3]}"
        ) from None
    src = (
        spark.read.option("basePath", index_dir)
        .parquet(*[f"{index_dir}/{d}" for d in bare])
    )
    rows_before = src.count()
    gname = f"gen-{max(ids)}"
    (
        src.write.mode("overwrite")
        .partitionBy("batch_seq")
        .parquet(f"{index_dir}/{gname}/data")
    )
    _write_schema(f"{index_dir}/{gname}", _payload_schema(src.schema))
    store_commit(index_dir, gname)
    rows_after, files_after, batches = layout_audit(
        read_index(spark, index_dir)
    )
    if rows_after != rows_before:
        raise ValueError(
            f"migration audit failed at {index_dir}: {rows_before} rows "
            f"in the bare tree but {rows_after} in the committed "
            "generation — bare source left in place for inspection"
        )
    for d in bare:
        _STORE_BACKEND.remove_tree(f"{index_dir}/{d}")
    return {
        "rows_before": rows_before, "rows_after": rows_after,
        "files_after": files_after, "batches": batches,
        "noop_replay": False,
    }


def layout_counts_meta(gen_dir: str) -> "tuple[int, int]":
    """(files, batches) of a committed generation from DIRECTORY LISTING
    only — one listing per batch partition, no Spark job, no data
    read. This is the trigger-side twin of :func:`layout_audit`: the
    threshold policy only needs file/batch counts, which are metadata,
    while the row count (which NEEDS a scan) belongs in
    :func:`compact_index`'s before/after proof. At a 100 TB rolling
    corpus the distinction is the whole point — a per-micro-batch
    trigger that aggregated the full table would cost more than the
    ingest it maintains. Listings route through the StoreBackend seam
    (prefix listings on an object store)."""
    files = 0
    batches = 0
    try:
        names = _STORE_BACKEND.list_names(f"{gen_dir}/data")
    except FileNotFoundError:
        return 0, 0
    for name in names:
        part = f"{gen_dir}/data/{name}"
        if name.startswith("batch_seq=") and _STORE_BACKEND.is_dir(part):
            batches += 1
            files += sum(
                1
                for f in _STORE_BACKEND.list_files(part)
                if f.endswith(".parquet")
            )
    return files, batches


def compact_if_needed(
    spark,
    index_dir: str,
    *,
    committed_upto: int,
    max_batches: "int | None" = 8,
    max_files: "int | None" = None,
    split_col: "str | None" = None,
    max_rows_per_file: "int | None" = None,
) -> "dict[str, int | bool] | None":
    """Threshold-gated compaction — the maintenance policy a 24/7
    rolling ingest actually runs between micro-batches: count the
    committed generation's batch partitions and files from METADATA
    ONLY (:func:`layout_counts_meta` — a driver-side directory listing,
    zero Spark jobs, zero data read) and call :func:`compact_index`
    only when it has accreted more than ``max_batches`` batch
    partitions (or ``max_files`` files, if set); otherwise return None
    and touch nothing. The full row-counting :func:`layout_audit` runs
    only inside the compaction itself, where its before/after proof
    belongs — fused in-band per micro-batch, the no-op path must never
    scan the corpus it polices. ``spark`` is only touched when the
    threshold fires (the no-op path accepts ``spark=None``, which the
    tests use to prove no job can launch). Returns the compaction audit
    when a rewrite ran.

    ``committed_upto`` is the highest batch id whose ingest the CALLER
    knows to be checkpoint-committed — the store cannot know the
    streaming engine's commit state, and compacting an uncommitted
    batch would make its own crash-replay refuse (the watermark
    contract). Compaction merges everything at or below it; batches
    above it keep their own partitions and stay replayable.

    A never-committed store is trivially below every threshold. The
    check-then-compact window is benign under the single-maintainer
    assumption the pointer store already makes (two concurrent
    compactions of the SAME upto are an idempotent fixpoint; racing
    different uptos needs an external lock, same as any table
    OPTIMIZE)."""
    try:
        gen = store_current(index_dir)
    except FileNotFoundError:
        return None
    files, batches = layout_counts_meta(gen)
    over_batches = max_batches is not None and batches > max_batches
    over_files = max_files is not None and files > max_files
    if not (over_batches or over_files):
        return None
    prev = store_watermark(gen)
    if prev is not None and committed_upto <= prev:
        return None  # nothing new below the committed horizon to merge
    return compact_index(
        spark,
        index_dir,
        upto_batch=committed_upto,
        split_col=split_col,
        max_rows_per_file=max_rows_per_file,
    )


#: table-flavored twin (the store is payload-agnostic — see the alias
#: block above)
compact_table_if_needed = compact_if_needed
