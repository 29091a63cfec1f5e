#!/usr/bin/env python3
"""The repository benchmark: end-to-end and per-layer timings of the
query registry and the corpus ingest path, on the project's test tables.

Run from the repository root:

    python3 perfbench/run.py --workload short_analytics --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one process each

Each run pins its environment, makes its inputs from the tables in
``perfbench/data`` and the seed, starts a session (timed several
times), runs one warm-up pass checked against the DuckDB oracles, then
alternates a cold pass (fresh data path, so the session memos miss) and
a warm pass over the ``small`` tables until ``--seconds`` have elapsed,
in whole pairs.
Every output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the project's test tables, byte for byte: sf 0.001 and sf 0.01
DATA = HERE / "data"
MB = 1 << 20
INGEST = "ingest"  # the pass step that sends one batch through CorpusIngest

WORKLOADS: dict[str, list[str]] = {
    # job floor and planning; barely touches memos or superstep loops:
    # the control for memo, pin and superstep changes
    "short_analytics": [
        "pricing_summary", "top_revenue_orders", "events_rollup",
        "sessionize", "retention_cohorts", "q17_small_quantity_revenue",
    ],
    # builder-side eager jobs (a superstep loop over a memoized, pinned
    # edge list), then the MinHash dedup operators run incrementally on
    # the write path
    "iterative_ingest": ["k_hop_reachability", INGEST],
}
# ROADMAP targets that the workloads run; the traced run reports their
# warm time and jobs
TARGETS = ("k_hop_reachability",)
SCALES = {"tiny": "sf0.001", "small": "sf0.01"}
INGEST_BATCH_DOCS = 125
INGEST_ID_OFFSET = 1_000_000
SETUP_SAMPLES = 9
FLOOR_SAMPLES = 7
SPAN_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "shuffle_write_bytes", "spill_bytes", "output_bytes")


def driver_memory() -> str:
    """A quarter of the host's memory, at most 4 GiB: local mode runs
    every task in the driver JVM, and the package default (24g) is more
    than small hosts can back."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def pin_environment(work: Path) -> dict[str, str]:
    """Everything the run depends on, set before the JVM starts. Spark's
    scratch space, temp files and the cwd all live under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        # UDF workers import the package, so it must be on their path
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    os.chdir(work)
    sys.path.insert(0, str(ROOT))
    return env


def versions() -> dict[str, str | None]:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "commit": commit,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def digest_frame(df):
    """One-row frame (rows, digest): the sum of xxhash64 over every
    output column. Order-insensitive, and it forces every column of the
    full output, which ``count()`` would let the optimizer prune."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    )


def oracle_rules():
    """The differential rules of ``tools/verify_local.py``: its table
    list and its canonical row form. Imported without keeping the
    module's own path entry."""
    saved = list(sys.path)
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        from verify_local import TABLES, canon
    finally:
        sys.path[:] = saved
    return TABLES, canon


def open_oracle(data_dir: str):
    """A DuckDB connection with one view per table of ``data_dir``."""
    import duckdb

    tables, _ = oracle_rules()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_match(sdf, con, name: str) -> int | None:
    """The row count of ``sdf`` when its rows hash-match the DuckDB
    oracle of query ``name`` on ``con``, else None."""
    from redshells_spark.queries import get_oracles

    _, canon = oracle_rules()
    srows = [tuple(r) for r in sdf.collect()]
    cur = con.execute(get_oracles()[name])
    ocols = [c[0] for c in cur.description]
    if sorted(sdf.columns) == sorted(ocols) and canon(srows, sdf.columns) == canon(cur.fetchall(), ocols):
        return len(srows)
    return None


def vocabulary() -> list[str]:
    """Every lower-cased token of both document tables: the fixed
    vocabulary the ingest index is built with."""
    import pyarrow.parquet as pq

    tokens: set[str] = set()
    for d in SCALES.values():
        for text in pq.read_table(DATA / d / "documents.parquet", columns=["text"])["text"].to_pylist():
            tokens.update(text.lower().split())
    return sorted(tokens)


def ingest_vocab(spark):
    return spark.createDataFrame(
        list(enumerate(vocabulary())), "token_id long, token string"
    ).localCheckpoint(eager=True)


def accepted_ids(spark, state: str) -> list[int]:
    return sorted(r[0] for r in spark.read.parquet(f"{state}/corpus").select("doc_id").collect())


def id_set_digest(ids: list[int]) -> list:
    """[count, sha256 prefix] of a set of document ids."""
    return [len(ids), hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()[:16]]


def write_ingest_batch(docs_path: Path, out: Path, seed: int, n_docs: int | None, id_offset: int) -> int:
    """One arriving batch: the ``n_docs`` documents of smallest id (all
    when None) in the seed's arrival order, ids shifted by
    ``id_offset`` so batches drawn from different tables never share
    an id. The seed changes the order, not the set, so the accepted
    set is the same for every seed. Returns the batch's text bytes."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(docs_path, columns=["doc_id", "text"]).sort_by("doc_id")
    docs = docs.slice(0, n_docs or docs.num_rows)
    batch = docs.take(random.Random(seed).sample(range(docs.num_rows), docs.num_rows))
    batch = batch.set_column(0, "doc_id", pc.add(batch["doc_id"], id_offset))
    out.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(batch, out)
    return sum(len(t.encode()) for t in batch["text"].to_pylist())


def link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def fresh_copy(src: Path, dst: Path) -> str:
    """Hard-linked copy of a directory tree under a new path. The
    session memos are keyed by path, so a new table path makes a cold
    pass; a state copy lets every ingest pass start from the same state
    (compaction replaces files, so the shared links are never written)."""
    shutil.copytree(src, dst, copy_function=link_or_copy)
    return str(dst)


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, work: Path):
        self.workload = workload
        self.ingests = INGEST in WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.reference = json.loads((HERE / "reference.json").read_text())

    # ---------------------------------------------------------- session
    def start_session(self):
        from redshells_spark import get_spark_session

        work = self.work
        confs = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            (work / "eventlog").mkdir(exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                # the default codec (zstd) needs the optional zstandard module
                "spark.eventLog.compress": "false",
            })
        spark = get_spark_session("perfbench", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        return spark

    def open(self) -> None:
        """First start: JVM launch, package import, first job."""
        t0 = time.perf_counter()
        import redshells_spark.queries  # noqa: F401 — import time is set-up time

        self.spark = self.start_session()
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        from perfbench.trace import Tracer

        self.tracer = Tracer(self.sc, self.trace)
        if self.ingests:
            self.vocab = ingest_vocab(self.spark)

    def time_restarts(self) -> list[float]:
        """``SETUP_SAMPLES`` stops and starts of the session inside the
        running JVM. Taken after the measured passes, when no JIT or
        warm-up work competes with them."""
        times = []
        for _ in range(SETUP_SAMPLES):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            times.append(time.perf_counter() - t0)
        self.sc = self.spark.sparkContext
        return times

    def close(self) -> None:
        """Stop the session and the JVM, and wait until it has exited
        (it exits when its stdin closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def job_floor_ms(self) -> float:
        from perfbench.stats import median

        self.sc.setJobGroup(f"{self.workload}/floor", "floor")
        runs = []
        for _ in range(FLOOR_SAMPLES):
            t0 = time.perf_counter()
            self.spark.range(1).count()
            runs.append((time.perf_counter() - t0) * 1000)
        return median(runs)

    def peak_rss_mb(self) -> float:
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
        return kb / 1024

    def storage(self) -> tuple[float, int]:
        infos = list(self.sc._jsc.sc().getRDDStorageInfo())
        mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
        return mb, sum(1 for i in infos if i.numCachedPartitions() > 0)

    # ------------------------------------------------------------ calls
    def call(self, name: str, kind: str, layer: str, build, check) -> dict:
        """One timed call: ``build()`` (the package call, traced as
        ``layer``) returns a DataFrame whose digest is planned, then
        computed; ``check`` judges (rows, digest)."""
        tr = self.tracer
        label = f"{self.workload}/{name}/{kind}"
        self.sc.setJobGroup(label, label)
        self.attempted += 1
        ok, span = False, None
        t0 = time.perf_counter()
        try:
            with tr.span("call", label) as span:
                with tr.span(layer, label, span):
                    df = build()
                with tr.span("plan", label, span):
                    d = digest_frame(df)
                    if tr.enabled:
                        d._jdf.queryExecution().executedPlan()
                with tr.span("exec", label, span):
                    rows, digest = d.collect()[0]
            ok = check(rows, str(digest))
        except Exception:  # noqa: BLE001 — one failing call must not end the run
            traceback.print_exc()
        seconds = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"# FAILED {label}", file=sys.stderr)
        return {"name": name, "seconds": seconds, "span": span.id if span else None, "ok": ok}

    def query_call(self, name: str, kind: str, sf_dir: str, expect):
        """``expect`` is the committed [rows, digest] reference, or an
        open DuckDB connection to hash-match the rows against the
        oracle instead."""
        from redshells_spark.queries import get_queries

        frames = []

        def build():
            frames.append(get_queries()[name](self.spark, sf_dir))
            return frames[-1]

        def check(rows, digest):
            if isinstance(expect, list):
                return [rows, digest] == expect
            return oracle_match(frames[-1], expect, name) == rows

        return self.call(name, kind, "build", build, check)

    def ingest_call(self, kind: str, batch: str, state: str, batch_id: int, before: int, expect: list) -> dict:
        """One batch through ``process_batch`` into ``state``; the corpus
        is then read back and digested, and must have grown by the
        accepted documents."""
        from redshells_spark.streaming.ingest import CorpusIngest

        ingest = CorpusIngest(base_path=state, vocab=self.vocab)

        def build():
            ingest.process_batch(self.spark.read.parquet(batch), batch_id)
            return self.spark.read.parquet(f"{state}/corpus")

        call = self.call(INGEST, kind, "ingest", build,
                         lambda rows, digest: rows == before + ingest.stats[-1]["n_accepted"])
        call["stats"] = ingest.stats[-1] if ingest.stats else None
        return call

    # ----------------------------------------------------------- passes
    def run_pass(self, kind: str, sf_dir: str, expect, ingest: tuple | None) -> dict:
        """Every step of the workload once, in the seed's order: each
        query on ``sf_dir`` and, for an ingesting workload, the batch
        ``ingest`` = (batch, state, batch_id, rows before, expected
        accepted set as [count, digest])."""
        steps = self.rng.sample(WORKLOADS[self.workload], len(WORKLOADS[self.workload]))
        rec = {"kind": kind, "calls": []}
        t0 = time.perf_counter()
        for name in steps:
            if name == INGEST:
                call = self.ingest_call(kind, *ingest)
                rec["stats"] = call["stats"]
            else:
                call = self.query_call(name, kind, sf_dir, expect(name))
            rec["calls"].append(call)
        rec["seconds"] = time.perf_counter() - t0
        if ingest and not self.state_ok(rec, ingest[1], ingest[4]):
            # a wrong state fails the batch, once
            call = next(c for c in rec["calls"] if c["name"] == INGEST)
            if call["ok"]:
                call["ok"] = False
                self.failed += 1
            print(f"# FAILED ingest state check ({kind})", file=sys.stderr)
        self.passes.append(rec)
        return rec

    def state_ok(self, rec: dict, state: str, expect: list) -> bool:
        """After the pass, untimed: no fingerprint accepted twice;
        corpus, fingerprint and signature state of equal size; the
        accepted id set equal to the committed reference, so every pass
        accepts the same documents and a wrong dedup decision fails."""
        self.sc.setJobGroup(f"{self.workload}/check", "check")
        read = self.spark.read.parquet
        ids = accepted_ids(self.spark, state)
        fps = read(f"{state}/fingerprints").select("fingerprint")
        n_sig = read(f"{state}/signatures").count()
        ok = len(ids) == fps.count() == fps.distinct().count() == n_sig == len(set(ids))
        ok = ok and id_set_digest(ids) == expect
        rec["state_files"] = sum(1 for _ in Path(state).rglob("*.parquet"))
        return ok


def layer_totals(tracer, counters, rec) -> Counter:
    """Per-pass sums over its calls: jobs/stages/tasks and executor
    counters of every span, and time and jobs per layer."""
    from perfbench.stats import self_time

    agg: Counter = Counter()
    for call in rec["calls"]:
        if call["span"] is None:
            continue
        span = tracer.spans[call["span"]]
        kids = tracer.children(span)
        call["jobs"] = 0
        for s in [span, *kids]:
            c = counters.get(s.id, Counter())
            for k in SPAN_COUNTERS:
                agg[k] += c[k]
            call["jobs"] += c["jobs"]
            if s is not span:
                agg[f"{s.layer}_s"] += s.seconds
                agg[f"{s.layer}_jobs"] += c["jobs"]
                agg[f"{s.layer}_output_bytes"] += c["output_bytes"]
        agg["call_self_s"] += self_time(span.start, span.end, [(k.start, k.end) for k in kids])
    return agg


def per_layer(bench, counters, storage, floor_ms, peak_rss, text_bytes) -> dict[str, tuple[float, str]]:
    """The traced run's metrics: medians over the warm passes unless
    named otherwise. A layer or query the workload does not run reads 0."""
    from perfbench.stats import median

    tr = bench.tracer
    cold = [p for p in bench.passes if p["kind"] == "cold"]
    warm = [p for p in bench.passes if p["kind"] == "warm"]
    wt = [layer_totals(tr, counters, p) for p in warm]
    ct = [layer_totals(tr, counters, p) for p in cold]
    untraced = next(p for p in bench.passes if p["kind"] == "untraced")

    def med(key, totals=wt, scale=1.0):
        return median([t[key] for t in totals]) / scale

    metrics = {
        "session.start_s": (bench.session_start_s, "s"),
        "session.job_floor_ms": (floor_ms, "ms"),
        "session.jobs": (med("jobs"), "count"),
        "session.stages": (med("stages"), "count"),
        "session.tasks": (med("tasks"), "count"),
        "queries.build_s": (med("build_s"), "s"),
        "queries.build_jobs": (med("build_jobs"), "count"),
        "plan.plan_s": (med("plan_s"), "s"),
        "exec.exec_s": (med("exec_s"), "s"),
        "exec.exec_jobs": (med("exec_jobs"), "count"),
        "exec.executor_run_ms": (med("executor_run_ms"), "ms"),
        "exec.shuffle_write_mb": (med("shuffle_write_bytes", scale=MB), "MB"),
        "exec.spill_mb": (med("spill_bytes", scale=MB), "MB"),
        "memo.cold_extra_s": (med("build_s", ct) - med("build_s"), "s"),
        "memo.cached_mb": (median([s[0] for s in storage]), "MB"),
        "memo.cached_rdds": (median([s[1] for s in storage]), "count"),
        "memo.peak_rss_mb": (peak_rss, "MB"),
    }
    stats = [p["stats"] for p in warm if p.get("stats")]
    metrics.update({
        "ingest.batch_s": (med("ingest_s"), "s"),
        "ingest.batch_jobs": (med("ingest_jobs"), "count"),
        "ingest.accept_ratio": (median([s["n_accepted"] / s["n_in"] for s in stats]) if stats else 0.0, "ratio"),
        "ingest.bytes_written_mb": (med("ingest_output_bytes", scale=MB), "MB"),
        "ingest.write_amp": (med("ingest_output_bytes") / text_bytes if text_bytes else 0.0, "ratio"),
        "ingest.state_files": (median([p["state_files"] for p in warm]) if stats else 0, "count"),
        "ingest.files_compacted": (median([s["files_compacted"] for s in stats]) if stats else 0, "count"),
    })
    for name in TARGETS:
        calls = [c for p in warm for c in p["calls"] if c["name"] == name]
        metrics[f"q.{name}.s"] = (median([c["seconds"] for c in calls]) if calls else 0.0, "s")
        metrics[f"q.{name}.jobs"] = (median([c["jobs"] for c in calls]) if calls else 0, "count")
    metrics["trace.overhead_s"] = (median([p["seconds"] for p in warm]) - untraced["seconds"], "s")
    metrics["trace.call_self_s"] = (med("call_self_s"), "s")
    return metrics


def run(args) -> dict:
    """One workload in this process, in a scratch directory that is
    removed however the run ends."""
    work = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run_in(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run_in(args, work: Path) -> dict:
    from perfbench.stats import median, quantile

    t_run = time.perf_counter()
    phases = {}
    env = pin_environment(work)

    measured = "tiny" if args.smoke else "small"
    tables = DATA / SCALES[measured]
    bench = Bench(args.workload, args.seed, bool(args.trace), work)
    ingest_ref = bench.reference["ingest"]
    text_bytes = 0
    if bench.ingests:
        # the warm-up batch (every tiny document) seeds the state that
        # each measured batch is then deduplicated against
        seed_batch, batch = work / "ingest" / "seed.parquet", work / "ingest" / "batch.parquet"
        write_ingest_batch(DATA / SCALES["tiny"] / "documents.parquet", seed_batch, args.seed, None, 0)
        text_bytes = write_ingest_batch(
            tables / "documents.parquet", batch, args.seed, INGEST_BATCH_DOCS, INGEST_ID_OFFSET)
        seed_state = work / "state" / "seed"

    def ingest_step(tag: str) -> tuple | None:
        if not bench.ingests:
            return None
        return (str(batch), fresh_copy(seed_state, work / "state" / tag), 1,
                ingest_ref["seed"][0], ingest_ref[measured])

    phases["inputs"] = time.perf_counter() - t_run
    bench.open()
    try:
        phases["sessions"] = time.perf_counter() - t_run
        floor_ms = bench.job_floor_ms() if args.trace else None
        # the warm-up reads its own copy of the measured tables, so the
        # memos of the measured paths stay empty
        path = fresh_copy(tables, work / "data" / f"{measured}-warmup")
        con = open_oracle(path)
        warmup_ingest = (str(seed_batch), str(seed_state), 0, 0, ingest_ref["seed"]) if bench.ingests else None
        bench.run_pass("warmup", path, lambda name: con, warmup_ingest)
        con.close()
        phases["warmup"] = time.perf_counter() - t_run

        ref = bench.reference["queries"][measured]
        storage = []
        t0 = time.perf_counter()
        pair = 0
        while True:
            path = fresh_copy(tables, work / "data" / f"{measured}-{pair}")
            bench.run_pass("cold", path, ref.__getitem__, ingest_step(f"cold{pair}"))
            storage.append(bench.storage())
            bench.run_pass("warm", path, ref.__getitem__, ingest_step(f"warm{pair}"))
            pair += 1
            if args.smoke or time.perf_counter() - t0 >= args.seconds:
                break
        if args.trace:
            # one more warm pass with the tracer off: the overhead baseline
            bench.tracer.enabled = False
            bench.run_pass("untraced", path, ref.__getitem__, ingest_step("untraced"))
        peak_rss = bench.peak_rss_mb()
        app_id = bench.sc.applicationId
        phases["measured"] = time.perf_counter() - t_run
        setup = bench.time_restarts()
        phases["restarts"] = time.perf_counter() - t_run
    finally:
        bench.close()
    phases["closed"] = time.perf_counter() - t_run

    cold = [p for p in bench.passes if p["kind"] == "cold"]
    warm = [p for p in bench.passes if p["kind"] == "warm"]
    warm_calls = [c["seconds"] for p in warm for c in p["calls"]]
    metrics = {
        "setup_s": (median(setup), "s"),
        "cold_pass_s": (median([p["seconds"] for p in cold]), "s"),
        "warm_pass_s": (median([p["seconds"] for p in warm]), "s"),
        "call_p50_s": (median(warm_calls), "s"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": measured, "pairs": pair, "env": env, "versions": versions(),
        "e2e": {k: v for k, (v, _) in metrics.items()},
        "call_samples": len(warm_calls),
        "call_p90_s": quantile(warm_calls, 0.9),
        "peak_rss_mb": peak_rss,
        "fail_frac": bench.failed / bench.attempted,
        "phases": phases,
        "passes": [
            {"kind": p["kind"], "seconds": p["seconds"], "calls": {c["name"]: c["seconds"] for c in p["calls"]}}
            for p in bench.passes
        ],
    }
    if bench.ingests:
        batch_s = [c["seconds"] for p in warm for c in p["calls"] if c["name"] == INGEST]
        detail["batch_p50_s"] = median(batch_s)
        detail["ingest_docs_per_s"] = warm[0]["stats"]["n_in"] / detail["batch_p50_s"]
    if args.trace:
        from perfbench.trace import read_event_log, span_counters

        counters = span_counters(read_event_log(str(work / "eventlog"), app_id))
        metrics = per_layer(bench, counters, storage, floor_ms, peak_rss, text_bytes)
        trace_dir = ROOT / ".bench_build" / "perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps({
            "detail": detail,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "spans": [vars(s) for s in bench.tracer.spans],
            "counters": {str(k): dict(v) for k, v in counters.items()},
        }))
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    print(json.dumps({"detail": detail}))
    for name, (value, unit) in metrics.items():
        print(f"# {name:28s} {value:12.4f} {unit}", file=sys.stderr)
    print(f"# seed {args.seed}  attempted {bench.attempted}  failed {bench.failed}"
          f"  fail_frac {detail['fail_frac']:.4f}", file=sys.stderr)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_all(args) -> dict:
    """Every workload in its own process; metrics prefixed by workload."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            raise SystemExit(f"{w} exited with {proc.returncode}")
        lines = proc.stdout.strip().splitlines()
        print(lines[-2])
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="measure the tiny tables, one cold/warm pair")
    args = p.parse_args()
    if not (ROOT / "redshells_spark" / "__init__.py").is_file():
        print(f"perfbench: no redshells_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    result = run_all(args) if args.workload == "all" else run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
