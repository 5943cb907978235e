"""Layered benchmark of the batch analytics engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_expand --seed 1 --seconds 16 --trace 0

One process, one client, closed loop: a session at ``local[nproc]``, then
whole jobs (construct through the public entry point, then drain) one
after another. A run is

1. inputs (untimed): etl_expand's landing directory generated from
   ``--seed``; query_mix's tables copied from :data:`TABLES_DIR`, with
   the seed shuffling the job order of every pass after the cold one;
2. set-up: ``session.get_spark`` timed :data:`SETUPS` times (the first
   launches the JVM, the others restart the session in it);
3. the cold pass (timed: ``cold_s``);
4. :data:`WARMUP` untimed steady passes;
5. measured steady passes, as many as take ``--seconds`` on a 4-core host
   (see :data:`PASS_S`). With ``--trace 1`` as many again, alternating
   untraced and traced; the traced ones give the per-layer metrics (see
   :mod:`layers`). Before each steady pass (untimed) the previous output is
   removed, the disks are synced, the JVM runs a full GC and the memory
   high-water marks restart; each pass's peak is read after it;
6. the check (untimed): every output of the last pass against its DuckDB
   oracle.

Times are :func:`unstolen_s`: wall time less the share of the CPU time
the run asked for that the hypervisor gave to other guests (the raw wall
times are logged next to them).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``. Everything the run
writes lives under ``.perfbench_run/`` in the checkout and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "batch_processing_iac_aws_spark")

#: Session starts per run; ``setup_s`` is their median.
SETUPS = 13
#: The query mix's tables: a byte-identical copy of the repository's
#: sf0.01 test data (FIXTURES.md section 2).
TABLES_DIR = os.path.join(HERE, "data", "sf0.01")
#: Intervals in the latest landing file of etl_expand.
INTERVALS = 40_000
#: Untimed steady passes after the cold one: the JVM keeps warming up over
#: the first passes. query_mix has none, which keeps its runs near a
#: minute; its first measured pass is the slowest, and the median of three
#: sets it aside.
WARMUP = {"etl_expand": 1, "query_mix": 0}
#: Seconds of one measured steady pass on a 4-core host. A run measures
#: round(--seconds / PASS_S) passes (at least MIN_PASSES, so that pass_s
#: is a median): a fixed count, not a deadline, because runs compare only
#: when they measure the same passes.
PASS_S = {"etl_expand": 2.0, "query_mix": 6.0}
MIN_PASSES = 3
#: Percentiles job_tail_s may report, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)

SQL_JOBS = ["q1_pricing_summary", "q9_product_profit"]
PYTHON_JOBS = ["multimodal_wav_envelope"]
STREAM_JOBS = ["streaming_compacted_ingest"]

#: Workload name -> registered jobs (etl_expand runs the reference job).
WORKLOADS = {
    "etl_expand": ["etl_expand"],
    "query_mix": SQL_JOBS + PYTHON_JOBS + STREAM_JOBS,
}

#: Wrapped layer functions each workload must reach; a traced run that
#: records no call to one of them fails its trace check.
EXPECTED_CALLS = {
    "etl_expand": ["sources.latest_dated_file", "io.read_csv",
                   "io.write_parquet", "timeseries.expand_intervals"],
    "query_mix": ["catalog.load_table", "catalog.fanout_scan",
                  "index_store.commit", "index_store.append",
                  "index_store.compact", "index_store.audit",
                  "index_store.read"],
}

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "pass_s": "s", "job_p50_s": "s",
    "job_tail_s": "s", "rows_per_s": "rows/s", "ok_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp root (Python, Spark local dirs) into ``work``
    before anything creates a temp file."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None


def reset_hwm(pid: int) -> None:
    """Restart a process's VmHWM from its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def cpu_times() -> "list[int]":
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def stamp() -> "tuple[float, list[int]]":
    return time.perf_counter(), cpu_times()


def unstolen_s(start: "tuple[float, list[int]]") -> float:
    """Wall seconds since ``start`` (a :func:`stamp`), less the share of
    them that the hypervisor gave the run's virtual CPUs to other guests:
    wall x busy / (busy + steal) over the same interval. An idle CPU is
    never stolen from, so the share is that of the CPU time the run asked
    for. On a shared 4-vCPU virtual machine that share moved between 0
    and 25% from one minute to the next, and the raw wall time with it.
    Without steal the two are equal."""
    t0, c0 = start
    wall = time.perf_counter() - t0
    d = [b - a for a, b in zip(c0, cpu_times())]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return wall * busy / (busy + d[7]) if busy + d[7] else wall


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ---------------------------------------------------------------- oracles


def frames_match(sdf, odf) -> "str | None":
    """None when a Spark result equals its oracle under the canonical
    comparison of the repository's oracle tests, else the reason."""
    from tests.test_oracle import _canon

    if len(sdf) != len(odf):
        return f"row count {len(sdf)} != {len(odf)}"
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        return f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    a, b = _canon(sdf), _canon(odf)
    for col in a.columns:
        if a[col].equals(b[col]):
            continue
        for x, y in zip(a[col], b[col]):
            if x != y and not (x is None and y is None):
                return f"{col}: {x!r} != {y!r}"
    return None


def expansion_mismatch(duck, csv_path: str, target: str) -> "tuple[int, str | None]":
    """Compare a written etl_expand target with DuckDB's strict expansion
    of the same CSV (samples NULL or < 1 dropped, per-sample bounds at
    start + floor(i * delta) microseconds). Returns the expected row count
    and the mismatch, if any."""
    duck.execute(f"""
        CREATE OR REPLACE TEMP VIEW want AS
        WITH src AS (
            SELECT samples, temperature, epoch_us(start_time) AS s_us,
                   (epoch_us(end_time) - epoch_us(start_time))
                       / CAST(samples AS DOUBLE) AS delta,
                   unnest(range(samples)) AS i
            FROM read_csv_auto('{csv_path}', header = true)
            WHERE samples >= 1)
        SELECT make_timestamp(s_us + CAST(floor(i * delta) AS BIGINT))
                   AS start_time,
               make_timestamp(s_us + CAST(floor((i + 1) * delta) AS BIGINT))
                   AS end_time,
               CAST(samples AS BIGINT) AS samples, temperature,
               CAST(i AS BIGINT) AS sample_idx
        FROM src""")
    duck.execute(f"""
        CREATE OR REPLACE TEMP VIEW got AS
        SELECT CAST(start_time AS TIMESTAMP) AS start_time,
               CAST(end_time AS TIMESTAMP) AS end_time,
               CAST(samples AS BIGINT) AS samples, temperature,
               CAST(sample_idx AS BIGINT) AS sample_idx
        FROM read_parquet('{target}/**/*.parquet', hive_partitioning = true)""")
    n_want, n_got = (duck.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                     for v in ("want", "got"))
    if n_want != n_got:
        return n_want, f"row count {n_got} != {n_want}"
    extra = duck.execute(
        "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
        "SELECT * FROM want)").fetchone()[0]
    return n_want, f"{extra} rows differ" if extra else None


# -------------------------------------------------------------- workloads


class Workload:
    """The jobs of one workload and how to run, drain and check them."""

    def __init__(self, name: str, seed: int, work: str, tracer) -> None:
        self.name, self.work, self.tracer = name, work, tracer
        self.jobs = list(WORKLOADS[name])
        self.rng = random.Random(seed)
        self.out_rows = 0
        self._targets = 0
        import duckdb
        from datagen import write_landing

        from batch_processing_iac_aws_spark.catalog import TABLES

        self.duck = duckdb.connect()
        if name == "etl_expand":
            self.landing = os.path.join(work, "landing")
            self.latest = write_landing(self.landing, seed, INTERVALS)
        else:
            # a copy, so that no job can change the committed tables
            self.sf_dir = os.path.join(work, "tables")
            shutil.copytree(TABLES_DIR, self.sf_dir)
            for t in TABLES:
                self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"'{self.sf_dir}/{t}.parquet'")

    def order(self, pass_id: int) -> "list[str]":
        """This pass's job order: shuffled from the seed, except in the
        cold pass. The job that runs first there pays the process's
        first-use costs, so a shuffled cold pass made cold_s depend on
        the seed."""
        jobs = list(self.jobs)
        if pass_id:
            self.rng.shuffle(jobs)
        return jobs

    def run_job(self, spark, job: str):
        """Construct and drain one job; returns what :meth:`check` needs."""
        tracer = self.tracer
        if job == "etl_expand":
            from batch_processing_iac_aws_spark.reference_job import (
                run_reference_job,
            )

            self._targets += 1
            target = os.path.join(self.work, "out", str(self._targets))
            # the entry point writes the result itself: that is the drain
            with tracer.span("plans.construct", job):
                run_reference_job(spark, self.landing, target)
            return target
        from batch_processing_iac_aws_spark.plans import QUERIES

        with tracer.span("plans.construct", job):
            df = QUERIES[job](spark, self.sf_dir)
        with tracer.span("plans.drain", job):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, job: str, out) -> "str | None":
        """Compare one job's output (as :meth:`run_job` returned it) with
        its oracle; returns the mismatch, if any."""
        if job == "etl_expand":
            rows, problem = expansion_mismatch(self.duck, self.latest, out)
            self.out_rows += rows
            return problem
        from batch_processing_iac_aws_spark.plans import ORACLES

        sdf = out.toPandas()
        self.out_rows += len(sdf)
        return frames_match(sdf, self.duck.execute(ORACLES[job]).df())


def run_pass(spark, wl: Workload, pass_id: int):
    """One pass over the workload's jobs. Returns (seconds, [(job,
    seconds)], failures, {job: output}, wall seconds); all but the last
    are :func:`unstolen_s`."""
    wl.tracer.pass_id = pass_id
    lat, failed, outputs = [], 0, {}
    # earlier etl_expand targets, and the disk writes of earlier passes
    # (untimed)
    shutil.rmtree(os.path.join(wl.work, "out"), ignore_errors=True)
    os.sync()
    start = stamp()
    with wl.tracer.span("pass"):
        for job in wl.order(pass_id):
            j0 = stamp()
            try:
                outputs[job] = wl.run_job(spark, job)
            except Exception as exc:  # a failing job is counted, not fatal
                traceback.print_exc()
                failed += 1
                log(f"FAILED {job} (pass {pass_id}): {exc!r:.300}")
            lat.append((job, unstolen_s(j0)))
    return (unstolen_s(start), lat, failed, outputs,
            time.perf_counter() - start[0])


def check_outputs(wl: Workload, outputs: dict) -> int:
    """Check the outputs of a pass against the oracles (untimed); returns
    the number of mismatches."""
    failed = 0
    for job, out in outputs.items():
        try:
            problem = wl.check(job, out)
        except Exception as exc:  # a failing check is counted, not fatal
            traceback.print_exc()
            problem = repr(exc)
        if problem:
            failed += 1
            log(f"FAILED {job} check: {problem:.300}")
    return failed


def job_p50(per_job: "dict[str, list[float]]") -> float:
    """The median, over the jobs, of each job's median latency. Pooling
    the samples of a mix instead put the median on the edge between two
    jobs' latencies, which moved it by 20% between runs."""
    return statistics.median(statistics.median(t) for t in per_job.values())


def tail(samples: "list[float]", p50: float) -> "tuple[int, float]":
    """The highest ladder percentile of the pooled samples with at least
    ten samples beyond it; ``p50`` (:func:`job_p50`) when there are fewer
    than twenty samples."""
    import numpy as np

    n = len(samples)
    p = next((p for p in TAIL_LADDER if n * (100 - p) / 100 >= 10), 50)
    return p, float(np.percentile(samples, p)) if p != 50 else p50


# ------------------------------------------------------------------- main


def start_session(cores: int, extra_conf: "dict[str, str]"):
    from batch_processing_iac_aws_spark.session import get_spark

    start = stamp()
    spark = get_spark("perfbench", cpus=cores, extra_conf=extra_conf)
    return spark, unstolen_s(start)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PKG_DIR):
        print(f"error: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def bench(args, work: str) -> int:
    t0 = time.perf_counter()

    def phase(what: str) -> None:
        log(f"{what} done at {time.perf_counter() - t0:.1f}s")

    sys.path[:0] = [ROOT, HERE]
    load1 = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    loaded = load1 >= cores / 2
    log(f"loadavg {load1:.2f} on {cores} cores{' (LOADED)' if loaded else ''}")

    from layers import Tracer, attach_listeners, layer_metrics

    tracer = Tracer()
    wl = Workload(args.workload, args.seed, work, tracer)
    phase("inputs")

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "events"))
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": os.path.join(work, "events")})
    setups = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, took = start_session(cores, extra)
            setups.append(took)
        spark.sparkContext.setLogLevel("ERROR")
        phase("set-up")
        listeners = None
        if args.trace:
            tracer.install()
            listeners = attach_listeners(spark)

        tracer.active = bool(args.trace)
        cold_s, lat, failed, _, cold_wall = run_pass(spark, wl, 0)
        tracer.active = False
        attempted = len(lat)
        jvm_pid = spark.sparkContext._gateway.proc.pid

        def steady_pass(pid: int, traced: bool):
            """One steady pass from a collected heap. Returns run_pass's
            result and the pass's peak memory (MB): how far the heap had
            grown before a pass varied by up to 1.9x between runs, so each
            pass starts from a full GC with both memory marks restarted
            (untimed)."""
            spark.sparkContext._jvm.System.gc()
            reset_hwm(jvm_pid)
            reset_hwm(os.getpid())
            tracer.active = traced
            res = run_pass(spark, wl, pid)
            tracer.active = False
            return res, vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())

        warmup = WARMUP[args.workload]
        for pid in range(1, warmup + 1):
            (_, lat, bad, _, _), _ = steady_pass(pid, False)
            attempted, failed = attempted + len(lat), failed + bad
        phase("cold and warm-up passes")

        passes: dict[bool, list[float]] = {False: [], True: []}
        walls: list[float] = []
        jobs_s: list[tuple[str, float]] = []
        peaks: list[float] = []
        pass_ids: dict[bool, set[int]] = {False: set(), True: set()}
        n = max(MIN_PASSES, round(args.seconds / PASS_S[args.workload]))
        for pid in range(warmup + 1, warmup + n * (1 + args.trace) + 1):
            traced = bool(args.trace) and (pid - warmup) % 2 == 0
            (took, lat, bad, outputs, wall), peak = steady_pass(pid, traced)
            attempted, failed = attempted + len(lat), failed + bad
            passes[traced].append(took)
            pass_ids[traced].add(pid)
            if not traced:
                walls.append(wall)
                jobs_s.extend(lat)
                peaks.append(peak)
        # the check runs after the last peak was read: its collects and
        # DuckDB queries are not the program's memory
        phase("measured passes")
        failed += check_outputs(wl, outputs)
        phase("check")
        if listeners:
            listeners.flush(spark)
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the JVM exits when its stdin closes; wait until it has
            jvm.stdin.close()
            jvm.wait(timeout=60)
            phase("stop")

    pass_s = statistics.median(passes[False])
    per_job: dict[str, list[float]] = {}
    for job, took in jobs_s:
        per_job.setdefault(job, []).append(took)
    for job, took in sorted(per_job.items()):
        log(f"job {job}: median {statistics.median(took):.3f}s over "
            f"{len(took)} (min {min(took):.3f}, max {max(took):.3f})")
    log(f"{args.workload}: setups {[round(s, 3) for s in setups]}, cold "
        f"{cold_s:.3f}s (wall {cold_wall:.3f}s), passes "
        f"{[round(p, 3) for p in passes[False]]} (wall "
        f"{[round(p, 3) for p in walls]})"
        + (f", traced {[round(p, 3) for p in passes[True]]}" if args.trace
           else f", peaks {[round(p) for p in peaks]} MB"))
    trace_ok = True
    if args.trace:
        metrics = layer_metrics(
            tracer, listeners, os.path.join(work, "events"),
            traced=pass_ids[True], cold={0}, cores=cores,
            stream_jobs=set(STREAM_JOBS))
        metrics["session.start_s"] = setups[0]
        # per-layer, not end-to-end: G1 sizes the young generation from
        # measured pause times, so the driver JVM's footprint follows the
        # host's speed; over ten seeds its spread reached 0.25 of the median
        metrics["session.peak_rss_mb"] = statistics.median(peaks)
        metrics["trace.overhead_s"] = statistics.median(passes[True]) - pass_s
        for layer in EXPECTED_CALLS[args.workload]:
            calls = tracer.total(f"{layer}_calls", pass_ids[True])
            log(f"trace check {layer}: {calls:g} calls per traced run")
            if calls == 0:
                trace_ok = False
                log(f"FAILED trace check: no call to {layer}")
        units = {k: _unit(k) for k in metrics}
    else:
        p50 = job_p50(per_job)
        pct, tail_s = tail([t for _, t in jobs_s], p50)
        log(f"job_tail_s is p{pct} of {len(jobs_s)} job samples")
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_s": cold_s,
            "pass_s": pass_s,
            "job_p50_s": p50,
            "job_tail_s": tail_s,
            "rows_per_s": wl.out_rows / pass_s,
            "ok_frac": 1 - failed / attempted,
        }
        units = END_TO_END
    for name in sorted(metrics):
        log(f"{name} = {metrics[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0 and trace_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_amp", "ratio"),
                         ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "bytes" if name.endswith("bytes_written") else "count"


if __name__ == "__main__":
    sys.exit(main())
