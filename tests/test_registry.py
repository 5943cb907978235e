"""Registry self-checks: the driver hard-verifies the FIRST 50 registered
queries, so the ledger-computed order IS coverage policy — lock it down,
along with the exact query/oracle counts and the rows-only allowlist."""

from __future__ import annotations

import json
import pathlib

from batch_processing_iac_aws_spark.plans import ORACLES, QUERIES, _stalest_first

# EMPTY since round 10: the last two rows-only registrations
# (dedup_simhash / dedup_simhash_pairs, whose xxhash64 token family is
# structurally un-oracle-able in DuckDB) were retired in favor of the
# hash-oracled dedup_simhash_portable exhaustive twin +
# dedup_incremental_simhash; the xxhash64 operators remain the
# production default, property-tested in tests/test_dedup.py. Every
# registered query now carries a DuckDB oracle. (History: round 4
# upgraded agg_approx_distinct / agg_hll_rollup, dedup_minhash,
# similarity_ivf / similarity_lsh, text_langid, agg_freq_items,
# dedup_fuzzy_pipeline, and embedding_pca out of this set.)
ROWS_ONLY: set[str] = set()


def test_counts():
    assert len(QUERIES) == 224
    assert len(ORACLES) == 224


def test_rows_only_set_is_exactly_the_allowlist():
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def _last_driver_green() -> "dict[str, int]":
    """name -> last round with a green driver row (hash match, no err) in
    the committed CORRECTNESS_r*.json ledger. Missing = never
    driver-confirmed."""
    import re

    last: dict[str, int] = {}
    for p in pathlib.Path(__file__).parents[1].glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1))
        for name, row in json.loads(p.read_text()).items():
            if row.get("hash_match") and not row.get("err"):
                last[name] = max(last.get(name, 0), rnd)
    return last


def test_stalest_first_on_synthetic_ledger(tmp_path):
    """The order function alone: never-green first, then ascending last
    green round, ties in registration order; red rows (hash mismatch or
    err) do not count, and an empty ledger keeps registration order."""
    green = {"hash_match": True, "err": None}
    ledger = {
        1: {"a": green, "b": green, "c": green, "d": green},
        2: {
            "a": green,
            "b": {"hash_match": False, "err": None},
            "d": {"hash_match": True, "err": "oracle_failed"},
        },
        3: {"c": green},
    }
    names = ["new1", "a", "b", "c", "d", "new2"]
    assert _stalest_first(names, str(tmp_path)) == names
    for rnd, rows in ledger.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    # files that are not ledger rounds are ignored
    (tmp_path / "CORRECTNESS_r03_c8.json").write_text(json.dumps({"b": green}))
    assert _stalest_first(names, str(tmp_path)) == [
        "new1", "new2", "b", "d", "a", "c"
    ]


def test_priority_window_is_oldest_first():
    """The driver hard-verifies the first 50 registered queries, and those
    must be the registry's STALEST against the committed ledger: every
    never-driver-confirmed query is inside, and no query outside is
    staler than any inside."""
    last = _last_driver_green()
    window = list(QUERIES)[:50]
    outside = list(QUERIES)[50:]
    never = {n for n in QUERIES if n not in last} - ROWS_ONLY
    assert never <= set(window), f"never-confirmed outside: {never - set(window)}"
    worst_in = max(last.get(n, 0) for n in window)
    best_out = min(last.get(n, 0) for n in outside)
    assert worst_in <= best_out, (
        f"window holds a query last-green r{worst_in} while "
        f"r{best_out}-stale queries sit outside it"
    )


def test_scratch_source_cache_reuse_and_partial_build_wipe(tmp_path, monkeypatch):
    """scratch_source_cache: second call in the same process reuses the
    built tree (already_built=True); a partial build (no sentinel) is
    WIPED on the next call, not appended to."""
    import os

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile as _tf

    _tf.tempdir = None  # force re-read of TMPDIR
    try:
        from batch_processing_iac_aws_spark.plans.registry import (
            scratch_source_cache,
        )

        p1, built1 = scratch_source_cache("t", "/some/sf")
        assert built1 is False
        with open(f"{p1}/partial.parquet", "w") as f:
            f.write("half-written")
        # no sentinel -> next call must wipe the partial content
        p2, built2 = scratch_source_cache("t", "/some/sf")
        assert p2 == p1 and built2 is False
        assert not os.path.exists(f"{p1}/partial.parquet")
        with open(f"{p1}/data.parquet", "w") as f:
            f.write("full")
        with open(f"{p1}/_BUILT", "w") as f:
            f.write("ok")
        p3, built3 = scratch_source_cache("t", "/some/sf")
        assert p3 == p1 and built3 is True
        assert os.path.exists(f"{p1}/data.parquet")
        # different (prefix, sf) -> different trees
        q, _ = scratch_source_cache("t", "/other/sf")
        assert q != p1
    finally:
        _tf.tempdir = None


def test_streaming_source_cache_second_call_identical(spark):
    """Calling a cached-source streaming query twice in one process must
    produce identical results — the second call takes the reuse path."""
    from batch_processing_iac_aws_spark.plans import QUERIES

    fn = QUERIES["streaming_incremental_dedup"]
    a = sorted(map(str, fn(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(str, fn(spark, "/root/testdata/sf0.001").collect()))
    assert a == b and len(a) > 0


def test_scratch_sweeps_dead_pid_siblings(tmp_path, monkeypatch):
    """A scratch tree whose owning process is gone is reclaimed on the
    next scratch_dir/scratch_source_cache call for the same (prefix, sf):
    per-pid naming isolates concurrent runs, but without the sweep every
    past bench/pytest/driver process left its tree in /tmp forever."""
    import os

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile as _tf

    _tf.tempdir = None
    try:
        from batch_processing_iac_aws_spark.plans.registry import (
            scratch_dir,
            scratch_source_cache,
        )

        # a pid that certainly isn't running: take one, prove it dead
        dead = 2
        while True:
            try:
                os.kill(dead, 0)
                dead += 1
            except ProcessLookupError:
                break
            except PermissionError:
                dead += 1
        live = scratch_dir("sw", "/some/sf")
        stem = live.rsplit("_p", 1)[0]
        ghost = f"{stem}_p{dead}"
        os.makedirs(ghost, exist_ok=True)
        with open(f"{ghost}/leak.parquet", "w") as f:
            f.write("x")
        scratch_dir("sw", "/some/sf")
        assert not os.path.exists(ghost)
        # same sweep on the cache variant — and a LIVE sibling (our own
        # parallel-run stand-in: this very process's tree) must survive
        c1, _ = scratch_source_cache("sw", "/some/sf")
        ghost2 = f"{c1.rsplit('_p', 1)[0]}_p{dead}"
        os.makedirs(ghost2, exist_ok=True)
        c2, _ = scratch_source_cache("sw", "/some/sf")
        assert not os.path.exists(ghost2) and c2 == c1
    finally:
        _tf.tempdir = None


def test_fixture_path_is_package_relative():
    """Committed fixtures resolve from the package location, not from a
    hardcoded checkout path or the process cwd — a checkout anywhere on
    disk must find its own fixtures (and the BPE oracle VALUES literal
    must therefore build from any cwd)."""
    import os

    from batch_processing_iac_aws_spark.plans.registry import fixture_path

    p = fixture_path("bpe_merges.txt")
    assert os.path.isabs(p) and os.path.exists(p)
    assert os.path.exists(fixture_path("quality_weights.tsv"))


def test_package_imports_from_worker_zip(tmp_path):
    """Executor Python workers import this package from the zip
    ensure_worker_imports ships — where __file__ points INSIDE the zip,
    so no fixtures/ directory exists and module-level fixture READS must
    degrade (oracles are driver-only) instead of crashing every worker
    import. Round-8 regression: the package-relative _BPE_MERGES_PATH fix
    initially broke udf_grouped_zscore (and every UDF query) with
    NotADirectoryError inside the zip; this reproduces the worker's exact
    import path in a subprocess with the repo absent from sys.path."""
    import os
    import subprocess
    import sys
    import zipfile

    import batch_processing_iac_aws_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    zpath = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import batch_processing_iac_aws_spark.plans as p; "
        "import batch_processing_iac_aws_spark.operators.text; "
        "print('WORKERZIP_OK', len(p.QUERIES))"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, zpath],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
    )
    assert "WORKERZIP_OK" in out.stdout, out.stderr[-2000:]


def test_query_refuses_a_registered_name():
    """query() must refuse a name already in QUERIES: a duplicate would
    silently replace its twin and drop one pair from the driver contract
    and the differential proof."""
    import pytest

    from batch_processing_iac_aws_spark.plans.registry import query

    live = next(iter(QUERIES))
    fn = QUERIES[live]
    with pytest.raises(ValueError, match="registered twice"):

        @query(live)
        def _q(spark, sf_dir):  # pragma: no cover - never invoked
            raise AssertionError

    assert QUERIES[live] is fn
