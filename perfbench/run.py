"""Extraction benchmark: seeded corpora, closed-loop workloads, checked outputs.

Usage (from the repository root):

    python3 perfbench/run.py --workload forms --seed 7 --seconds 10 --trace 0

Workloads (one driver submitting job after job on local[nproc]):

- forms    run_extraction(documents, ocr_words): every layer (scan, grouped
           shuffle, Arrow IPC, the L1-L4 kernel, the documents join, the
           shred/classify expressions).
- reshred  run_extraction(..., fields_df=<staged recognizer output>): the
           kernel, shuffle and Arrow layers are bypassed; the join and the
           shred/classify/thumbprint expressions do the work.
- ingest   run_checkpointed(documents, ocr_words, <empty dir>, n_chunks):
           the same extraction through the sink (staging, derived tables,
           _metrics/_lineage, atomic promote, manifest commit).

BENCHMARK.json lists forms and ingest; reshred runs the same way by hand.

Every job's output is checked against the generator's goldens (see
corpus.py); `attempted`/`failed` count documents over all checked jobs.

End-to-end metrics (--trace 0):

- docs_per_s          documents per job / median job wall
- setup_s             session start through the first job, on a JVM this
                      run launches: a cold start. Corpus generation is
                      excluded; reshred stages its input in a JVM of its own
                      beforehand, so its set-up starts cold too.

Peak RSS of the JVM and its Python workers in the loop is the per-layer
mem.peak_rss_mb, sampled in traced runs only: the sampler shares the
driver's Python process. On ingest it sometimes read 1.5-1.8 GB above its
usual figure, for a cause not yet found, so it has no bound.

An ingest chunk's commit latency (chunk start to its .done marker) is the
per-layer sink.chunk_commit_s_p50: it exists on ingest only, and an
end-to-end metric is printed on every workload. A run holds too few chunks
for a higher percentile to have ten samples beyond it.

Per-layer metrics (--trace 1) are listed in BENCHMARK.json; see
sparkstats.py and kernelprobe.py for where each comes from. The traced run
alternates traced and untraced jobs; trace.overhead is a traced job's wall
plus the time spent reading Spark's records after it, against an untraced
job's wall (the call wrappers are installed in both). It writes
its spans to .bench_work/traces/, and reports how much of each traced job's
wall its Spark stage spans cover (trace.stage_coverage).

The last line of standard output is the JSON result; everything else goes
to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# corpus size per workload: for forms and reshred, enough documents that
# per-job fixed cost does not dominate, few enough that a run holds several
# jobs. An ingest chunk carries a fixed cost of about a dozen Spark jobs, so
# its corpus is smaller, to keep MIN_JOBS jobs within a run, and each job
# writes INGEST_CHUNKS chunks.
DOCS = {"forms": 1500, "reshred": 2000, "ingest": 800}
# untimed warm-up jobs before the timed loop, in seconds: job times keep
# falling while the JIT compiles, so a measurement that starts early mostly
# measures JIT progress.
WARMUP_S = {"forms": 6.0, "reshred": 6.0, "ingest": 1.0}  # ingest: one job
MIN_JOBS = 3  # timed jobs per run, even when jobs outlast --seconds
INGEST_CHUNKS = 1
KERNEL_SAMPLE_DOCS = 800

E2E = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ----------------------------------------------------------------- session
def pinned_config(run_dir: str) -> tuple[dict, dict]:
    """(environment, extra Spark conf) the benchmark runs with, sized to the
    host: driver heap = MemTotal/6 clamped to [1, 4] GiB, off-heap = half."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 6))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_OFFHEAP": f"{heap_mb // 2}m",
        "SPARK_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import horus_spark from this checkout, whatever the cwd
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    return env, conf


def start_session(conf: dict):
    from horus_spark.session import get_spark

    ncpu = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ----------------------------------------------------------------- tracing
class Calls:
    """Timing wrappers around the program's public entry points (and the
    sink's manifest commit), installed by module attribute so calls made
    inside the program are seen too. Records (name, start, end, depth)."""

    TARGETS = (
        ("horus_spark.pipeline", "run_extraction"),
        ("horus_spark.pipeline", "recognize"),
        ("horus_spark.sources.sink", "run_checkpointed"),
        ("horus_spark.sources.sink", "write_extracted"),
        ("horus_spark.sources.sink", "_update_table_manifest"),
    )

    def __init__(self):
        import importlib

        self.records: list[dict] = []
        self.absent: list[str] = []
        self._depth = 0
        self._orig = []
        for mod_name, fn_name in self.TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name, None)
            if not callable(fn):
                self.absent.append(fn_name)
                continue
            self._orig.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(fn_name, fn))

    def _wrap(self, name, fn):
        def timed(*a, **kw):
            rec = {"name": name, "start": time.time(), "depth": self._depth}
            self._depth += 1
            try:
                return fn(*a, **kw)
            finally:
                self._depth -= 1
                rec["end"] = time.time()
                self.records.append(rec)

        return timed

    def take(self) -> list[dict]:
        out, self.records = sorted(self.records, key=lambda r: r["start"]), []
        return out

    def close(self):
        for mod, name, fn in self._orig:
            setattr(mod, name, fn)


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and the Python daemon and workers it
    started. Other descendants are left out: a helper the JVM spawns shares
    the JVM's address space until it execs, so its RSS would count the JVM
    twice."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak_kb = 0
        self._halt = threading.Event()

    def _tree_kb(self) -> int:
        children: dict = {}
        rss: dict = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{d}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
            rss[int(d)] = pages
        total, todo = rss.get(self.pid, 0), list(children.get(self.pid, []))
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/cmdline", "rb") as fh:
                    if b"pyspark" not in fh.read():
                        continue
            except OSError:
                continue
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total * (os.sysconf("SC_PAGE_SIZE") // 1024)

    def run(self):
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


# --------------------------------------------------------------- workloads
class Workload:
    """One closed-loop job type over a loaded corpus. `prepare()` builds the
    plan (counted in set-up); `job(i)` runs one job and returns
    (wall_s, chunk commit latencies, check handle); `rows_of(handle)` gives the
    output rows the check compares."""

    name = ""
    runs_kernel = True  # whether the workload's jobs run the extraction kernel

    def __init__(self, spark, corpus: str, run_dir: str, calls: Calls):
        self.spark, self.corpus, self.run_dir, self.calls = spark, corpus, run_dir, calls
        self.documents = spark.read.parquet(os.path.join(corpus, "documents"))
        self.ocr_words = spark.read.parquet(os.path.join(corpus, "ocr_words"))
        self.fault = None  # optional DataFrame -> DataFrame applied before the check

    def extracted(self):
        raise NotImplementedError

    def prepare(self) -> None:
        from corpus import output_digest

        ex = self.extracted()
        if self.fault is not None:
            ex = self.fault(ex)
        self._plan = output_digest(ex)._jdf.logicalPlan()

    def job(self, i: int):
        """Execute the prepared plan under a fresh QueryExecution, so no
        shuffle output or broadcast of an earlier job is reused."""
        from pyspark.sql import DataFrame

        jvm = self.spark._jvm
        t_wall = time.time()
        t0 = time.perf_counter()
        fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            self.spark._jsparkSession, self._plan
        )
        fresh.queryExecution().executedPlan()  # planning, otherwise done by collect
        t_plan = time.perf_counter()
        rows = DataFrame(fresh, self.spark).collect()
        wall = time.perf_counter() - t0
        self.driver_spans = [
            {"name": "driver.plan", "start": t_wall, "end": t_wall + t_plan - t0, "depth": 0}
        ]
        return wall, [], rows

    def rows_of(self, handle):
        return handle

    def extra_metrics(self, group_jobs) -> dict:
        return {}


class Forms(Workload):
    name = "forms"

    def extracted(self):
        import horus_spark.pipeline as P

        return P.run_extraction(self.documents, self.ocr_words)


class Reshred(Workload):
    name = "reshred"
    runs_kernel = False

    @staticmethod
    def stage(spark, corpus: str, run_dir: str) -> None:
        """Write the recognizer output once (untimed) for re-shredding."""
        from horus_spark.pipeline import recognize

        words = spark.read.parquet(os.path.join(corpus, "ocr_words"))
        recognize(words).write.mode("overwrite").parquet(os.path.join(run_dir, "staged_fields"))

    def extracted(self):
        import horus_spark.pipeline as P

        fields = self.spark.read.parquet(os.path.join(self.run_dir, "staged_fields"))
        return P.run_extraction(self.documents, self.ocr_words, fields_df=fields)


class Ingest(Workload):
    name = "ingest"

    def prepare(self) -> None:
        pass  # run_checkpointed builds one plan per chunk inside the job

    def extracted(self):
        return Forms.extracted(self)  # the plan each chunk builds, corpus-wide

    def job(self, i: int):
        import horus_spark.sources.sink as K

        out = os.path.join(self.run_dir, "ingest", f"job{i:04d}")
        shutil.rmtree(out, ignore_errors=True)
        self.calls.take()
        t0 = time.perf_counter()
        K.run_checkpointed(self.documents, self.ocr_words, out, n_chunks=INGEST_CHUNKS)
        wall = time.perf_counter() - t0
        calls = self.calls.take()
        self.driver_spans = [dict(c, depth=c["depth"] - 1) for c in calls if c["depth"] > 0]
        starts = [c["start"] for c in calls if c["name"] == "run_extraction"]
        commits = []
        for chunk, start in enumerate(starts):
            marker = os.path.join(out, "_checkpoints", f"chunk_{chunk:04d}.done")
            commits.append(os.stat(marker).st_mtime_ns / 1e9 - start)
        self.last_calls, self.last_out = calls, out
        return wall, commits, out

    def rows_of(self, out):
        from corpus import output_digest
        from horus_spark.sources.sink import read_output

        full = read_output(self.spark, out, "documents_full")
        if self.fault is not None:
            full = self.fault(full)
        return output_digest(full).collect()

    def extra_metrics(self, group_jobs) -> dict:
        """sink.* for the last job, from the wrapped-call timeline."""
        by = {}
        for c in self.last_calls:
            by.setdefault(c["name"], []).append(c)
        chunk_starts = [c["start"] for c in by.get("run_extraction", [])]
        m = {}
        rc = by.get("run_checkpointed", [{}])[0]
        if chunk_starts and rc:
            m["sink.staging_s"] = chunk_starts[0] - rc["start"]
        we = by.get("write_extracted", [])
        man = by.get("_update_table_manifest", [])
        out = self.last_out
        per = {"sink.write_extracted_s": [], "sink.metrics_lineage_s": [], "sink.commit_s": []}
        for chunk, w in enumerate(we):
            per["sink.write_extracted_s"].append(w["end"] - w["start"])
            if chunk < len(man):
                per["sink.metrics_lineage_s"].append(man[chunk]["start"] - w["end"])
                marker = os.path.join(out, "_checkpoints", f"chunk_{chunk:04d}.done")
                per["sink.commit_s"].append(os.stat(marker).st_mtime_ns / 1e9 - man[chunk]["start"])
        for k, v in per.items():
            m[k] = statistics.median(v) if v else 0.0
        if chunk_starts:
            t_first = chunk_starts[0] * 1000
            n = sum(1 for j in group_jobs if j.submissionTime().get().getTime() >= t_first)
            m["sink.jobs_per_chunk"] = n / len(chunk_starts)
        nbytes = nfiles = 0
        for d, _, files in os.walk(out):
            for f in files:
                nfiles += 1
                nbytes += os.path.getsize(os.path.join(d, f))
        m["sink.bytes_written"], m["sink.files_written"] = float(nbytes), float(nfiles)
        return m


WORKLOADS = {w.name: w for w in (Forms, Reshred, Ingest)}

# per-layer metric -> (unit, better); BENCHMARK.json lists the same names
PER_LAYER = {
    "scan.rows": ("count", "lower"),
    "scan.bytes": ("B", "lower"),
    "scan.stage_s": ("s", "lower"),
    "shuffle.bytes_written": ("B", "lower"),
    "shuffle.write_s": ("s", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "shuffle.partial_agg_s": ("s", "lower"),
    "shuffle.agg_sort_fallback_tasks": ("count", "lower"),
    "shuffle.read_partitions": ("count", "higher"),
    "arrow.bytes_to_python": ("B", "lower"),
    "arrow.bytes_from_python": ("B", "lower"),
    "arrow.python_boot_s": ("s", "lower"),
    "arrow.python_init_s": ("s", "lower"),
    "arrow.python_total_s": ("s", "lower"),
    "kernel.stage_s": ("s", "lower"),
    "kernel.task_skew": ("ratio", "lower"),
    "kernel.l1_cluster_lines_s": ("s", "lower"),
    "kernel.fragments_view_s": ("s", "lower"),
    "kernel.l2_infer_grid_s": ("s", "lower"),
    "kernel.l3l4_fields_s": ("s", "lower"),
    "kernel.glue_s": ("s", "lower"),
    "kernel.docs_per_s_1core": ("docs/s", "higher"),
    "join.broadcast_exchanges": ("count", "lower"),
    "join.broadcast_bytes": ("B", "lower"),
    "join.broadcast_collect_s": ("s", "lower"),
    "join.broadcast_build_s": ("s", "lower"),
    "plan.broadcast_hash_joins": ("count", "lower"),
    "plan.sort_merge_joins": ("count", "lower"),
    "plan.shuffled_hash_joins": ("count", "lower"),
    "plan.aqe_coalesced_partitions": ("count", "lower"),
    "shred.stage_s": ("s", "lower"),
    "shred.task_cpu_s": ("s", "lower"),
    "shred.gc_s": ("s", "lower"),
    "sink.staging_s": ("s", "lower"),
    "sink.write_extracted_s": ("s", "lower"),
    "sink.metrics_lineage_s": ("s", "lower"),
    "sink.commit_s": ("s", "lower"),
    "sink.chunk_commit_s_p50": ("s", "lower"),
    "sink.jobs_per_chunk": ("count", "lower"),
    "sink.bytes_written": ("B", "lower"),
    "sink.files_written": ("count", "lower"),
    "driver.plan_build_s": ("s", "lower"),
    "driver.gc_s": ("s", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
    "check.failed_ratio": ("ratio", "lower"),
    "trace.stage_coverage": ("ratio", "higher"),
    "trace.span_coverage": ("ratio", "higher"),
    "trace.overhead": ("ratio", "lower"),
}


def _coverage(job: dict, stages: list[dict]) -> float:
    """Share of the job's wall covered by the union of its stage spans."""
    iv = sorted(
        (max(s["start"], job["start"]), min(s["end"], job["end"])) for s in stages
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    wall = job["end"] - job["start"]
    return covered / wall if wall > 0 else 0.0


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs: time the host took from this VM."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


# -------------------------------------------------------------------- main
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="corpus size override")
    return ap.parse_args(argv)


def run(args, fault=None) -> dict:
    """One benchmark run; returns the result object (see module docstring).
    `fault` (DataFrame -> DataFrame) corrupts outputs before the check; the
    self-test uses it to show the check catches planted errors."""
    import corpus as C
    import sparkstats

    cls = WORKLOADS[args.workload]
    n_docs = args.docs or DOCS[args.workload]
    traced = bool(args.trace)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env, conf = pinned_config(run_dir)
    os.environ.update(env)
    log("perfbench config:", json.dumps({"env": env, "conf": conf, "docs": n_docs}))

    attempted = failed = 0
    errors: list[str] = []

    def check(rows_fn, handle) -> None:
        nonlocal attempted, failed
        attempted += n_docs
        try:
            bad = C.count_failed(rows_fn(handle), expected)
        except Exception as exc:  # a failing read-back fails every document
            errors.append(f"check: {type(exc).__name__}: {exc}")
            bad = n_docs
        failed += bad

    run_start = time.time()
    path = C.ensure_corpus(WORK, args.seed, n_docs)
    spark = None
    calls = Calls()
    try:
        if cls is Reshred:  # in a JVM of its own, so no set-up starts warm
            spark = start_session(conf)
            Reshred.stage(spark, path, run_dir)
            spark.stop()
            shutdown_jvm()
        checks = []
        t0 = time.perf_counter()
        spark = start_session(conf)  # launches this process's JVM: a cold start
        w = cls(spark, path, run_dir, calls)
        w.fault = fault
        spark.sparkContext.setJobGroup("setup", "perfbench set-up")
        try:
            w.prepare()
            checks.append(w.job(-1)[2])
        except Exception as exc:
            errors.append(f"setup: {type(exc).__name__}: {exc}")
            attempted += n_docs
            failed += n_docs
        setup_s = time.perf_counter() - t0
        warm_start = time.perf_counter()
        spark.sparkContext.setJobGroup("warmup", "perfbench warm-up")
        while not errors and time.perf_counter() - warm_start < WARMUP_S[args.workload]:
            try:
                checks.append(w.job(-2 - len(checks))[2])
            except Exception as exc:
                errors.append(f"warm-up: {type(exc).__name__}: {exc}")
                attempted += n_docs
                failed += n_docs
        calls.take()
        expected = C.load_expected(spark, path)

        rec = sparkstats.SparkRecords(spark)
        rss = RssSampler(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        walls: dict = {True: [], False: []}
        reads: list[float] = []  # seconds spent reading Spark's records per traced job
        commits: list[float] = []
        layer_samples: list[dict] = []
        spans: list[dict] = []
        handles = []
        gc0, steal0 = _jvm_gc_s(spark), _cpu_steal()
        if traced:
            rss.start()
        loop_start = time.perf_counter()
        i = 0
        while i < MIN_JOBS or time.perf_counter() - loop_start < args.seconds:
            job_traced = traced and i % 2 == 1
            group = f"job{i}"
            spark.sparkContext.setJobGroup(group, "perfbench job")
            t_start = time.time()
            try:
                wall, lat, handle = w.job(i)
            except Exception as exc:
                errors.append(f"job {i}: {type(exc).__name__}: {exc}")
                attempted += n_docs
                failed += n_docs
                i += 1
                continue
            calls.take()
            walls[job_traced].append(wall)
            commits.extend(lat)
            handles.append(handle)
            if job_traced:
                job_span = {"name": f"{args.workload}.job", "start": t_start, "end": t_start + wall}
                t_read = time.perf_counter()
                m, stages = sparkstats.layer_metrics(rec, group)
                m.update(w.extra_metrics(rec.group_jobs(group)))
                reads.append(time.perf_counter() - t_read)
                m["trace.stage_coverage"] = _coverage(job_span, stages)
                # measured driver-side spans (query planning; the program
                # calls inside run_checkpointed) block the job too
                m["trace.span_coverage"] = _coverage(job_span, stages + w.driver_spans)
                layer_samples.append(m)
                spans.append({**job_span, "children": [
                    {"name": f"stage {s['stage']} ({s['layer']})", "start": s["start"], "end": s["end"]}
                    for s in stages
                ] + w.driver_spans})
            i += 1
        loop_wall = time.perf_counter() - loop_start
        gc_s = _jvm_gc_s(spark) - gc0
        steal = _cpu_steal()
        steal_share = (steal[0] - steal0[0]) / max(steal[1] - steal0[1], 1)
        for h in checks + handles:
            check(w.rows_of, h)

        all_walls = walls[True] + walls[False]
        result: dict = {}
        if not traced:
            med = statistics.median(all_walls) if all_walls else 0.0
            result = {
                "docs_per_s": n_docs / med if med else 0.0,
                "setup_s": setup_s,
            }
            log(
                f"perfbench {args.workload}: {len(all_walls)} jobs in {loop_wall:.1f}s, "
                f"set-up {setup_s:.3f}s, "
                f"cpu steal {steal_share:.1%} of cpu time in the loop"
            )
        else:
            result = {k: 0.0 for k in PER_LAYER}
            for k in PER_LAYER:
                vals = [s[k] for s in layer_samples if k in s]
                if vals:
                    result[k] = statistics.median(vals)
            # plan build alone (the run_extraction call, no action)
            builds = []
            for _ in range(3):
                t0 = time.perf_counter()
                w.extracted()
                builds.append(time.perf_counter() - t0)
            result["driver.plan_build_s"] = statistics.median(builds)
            result["driver.gc_s"] = gc_s / max(len(all_walls), 1)
            result["mem.peak_rss_mb"] = rss.stop()
            if commits:
                result["sink.chunk_commit_s_p50"] = statistics.median(commits)
                log(f"perfbench trace: sink.chunk_commit_s_p50 over {len(commits)} chunk commits")
            if walls[True] and walls[False]:
                traced_cost = [t + r for t, r in zip(walls[True], reads)]
                result["trace.overhead"] = (
                    statistics.median(traced_cost) / statistics.median(walls[False]) - 1.0
                )
            absent = []
            if cls.runs_kernel:  # otherwise kernel.* stay 0: the workload bypasses it
                import kernelprobe

                t_probe = time.time()
                batch = kernelprobe.grouped_sample(spark, path, KERNEL_SAMPLE_DOCS)
                km, absent, kspans = kernelprobe.probe(batch)
                result.update({k: km[k] for k in kernelprobe.KEYS})
                spans.append({"name": "kernel.probe", "start": t_probe, "end": time.time(), "children": kspans})
            trace_path = os.path.join(WORK, "traces", f"{args.workload}_seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as fh:
                json.dump(
                    {
                        "workload": args.workload,
                        "seed": args.seed,
                        "config": {"env": env, "conf": conf, "docs": n_docs},
                        "absent": calls.absent + absent,
                        "jobs": {"traced": len(walls[True]), "untraced": len(walls[False])},
                        "spans": _flatten(spans, f"{args.workload}.run", run_start, time.time()),
                    },
                    fh,
                    indent=1,
                )
            log(f"perfbench trace: {trace_path}; absent: {calls.absent + absent}")
            result["check.failed_ratio"] = failed / attempted if attempted else 1.0
    finally:
        calls.close()
        try:
            if spark is not None:
                spark.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    for e in errors:
        log("perfbench error:", e)
    units = E2E if not traced else {k: u for k, (u, _) in PER_LAYER.items()}
    return {
        "correct": failed == 0 and not errors and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(result[k]), "unit": units[k]} for k in units},
    }


def _flatten(spans: list[dict], name: str, start: float, end: float) -> list[dict]:
    """Nested span dicts -> flat list of {id, parent, name, start, end} under
    one run span. Children with a `depth` are call spans, nested by depth."""
    flat = [{"id": 0, "parent": None, "name": name, "start": start, "end": end}]

    def add(span, parent):
        sid = len(flat)
        flat.append({"id": sid, "parent": parent, "name": span["name"], "start": span["start"], "end": span["end"]})
        stack = {0: sid}
        for child in span.get("children", []):
            d = child.get("depth")
            if d is None:
                add(child, sid)
            else:
                cid = len(flat)
                flat.append({"id": cid, "parent": stack.get(d, sid), "name": child["name"], "start": child["start"], "end": child["end"]})
                stack[d + 1] = cid

    for s in spans:
        add(s, 0)
    return flat


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import horus_spark.pipeline  # noqa: F401
        import horus_spark.sources.sink  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: cannot import the program from {ROOT}: {exc}")
        return 2
    try:
        result = run(args)
    finally:
        shutdown_jvm()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
