"""Multi-executor proxy for the Arrow-IPC "single-box artifact" claim.

Round-3 finding (BENCH_DECOMPOSE.json): the extraction pipeline's flat
non-scaling stage at 8->32 local cores is the JVM<->Python Arrow IPC
boundary — `arrow_noop` (shuffle + Arrow boundary + Python workers, zero
per-doc compute) stays ~flat as local[N] cores grow. The round-3 claim:
this is a single-JVM artifact — on a real cluster each executor JVM runs
its own Python worker pool, so the boundary parallelizes with executor
count. That claim was UNTESTED (the r3 verdict's top ask).

This tool tests it on this host with a REAL Spark standalone cluster
(separate master, worker, executor JVMs, separate Python worker pools):

- topology `local16`  — local[16], the single-JVM baseline
- topology `standalone_1x16` — 1 worker (taskset 0-15), 1 executor x 16
  cores: cluster plumbing, still ONE executor JVM
- topology `standalone_2x8` — 2 workers (taskset 0-7 / 8-15), 2 executors
  x 8 cores: SAME 16 total cores, TWO executor JVMs + worker pools

If the boundary is per-executor-JVM-serialized, `arrow_noop` wall-clock at
2x8 should approach half of 1x16; if it is host-global (memory bus, OS),
the two standalone topologies tie and the claim is falsified.

Protocol: same as tools/bench_decompose.py — fresh app per measurement,
3 warm-ups, min of 5 runs (one-sided steal -> min estimator), same 100k
corpus. Workers are taskset-pinned; executors and their Python workers
inherit the affinity. The package ships to executors via --py-files zip
(the north rule's spark-submit deployment mode).

Usage: python tools/bench_cluster.py      # writes BENCH_CLUSTER.json
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("HORUS_SCALE_DOCS", "100000"))
CORPUS = f"/tmp/horus_bench_corpus_{N_DOCS}"
PKG_ZIP = "/tmp/horus_spark_pkg_cluster.zip"
MASTER_PORT = int(os.environ.get("HORUS_MASTER_PORT", "7077"))
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"
STAGES = os.environ.get("HORUS_CLUSTER_STAGES", "arrow_noop,kernel,full").split(",")
WARMUPS = 3
RUNS = 5

TOPOLOGIES = {
    # name -> (worker core ranges, executor_cores) ; None = local[16]
    "local16": (None, 16),
    "standalone_1x16": (["0-15"], 16),
    "standalone_2x8": (["0-7", "8-15"], 8),
    # north-rule N -> 4N EXECUTORS pair (same executor size, 4x the
    # executor count) in the unsaturated regime where per-core work
    # dominates the host-global Arrow boundary cost:
    "standalone_1x2": (["0-1"], 2),
    "standalone_2x2": (["0-1", "2-3"], 2),
    "standalone_4x2": (["0-1", "2-3", "4-5", "6-7"], 2),
}


def _spark_home() -> str:
    import pyspark

    return os.path.dirname(pyspark.__file__)


def _make_pkg_zip() -> None:
    if os.path.exists(PKG_ZIP):
        os.unlink(PKG_ZIP)
    with zipfile.ZipFile(PKG_ZIP, "w") as z:
        pkg = os.path.join(REPO, "horus_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            s.settimeout(1.0)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise SystemExit(f"port {port} never came up")


def _spark_class(*args: str, taskset: str | None = None, env_extra=None):
    cmd = [os.path.join(_spark_home(), "bin", "spark-class"), *args]
    if taskset and os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", taskset] + cmd
    env = dict(
        os.environ,
        SPARK_HOME=_spark_home(),
        SPARK_LOG_DIR="/tmp/horus_cluster_logs",
        SPARK_LOCAL_DIRS="/dev/shm/spark-local",
        SPARK_NO_DAEMONIZE="1",
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
    )
    env.update(env_extra or {})
    os.makedirs("/tmp/horus_cluster_logs", exist_ok=True)
    return subprocess.Popen(
        cmd,
        stdout=open("/tmp/horus_cluster_logs/last_launch.log", "ab"),
        stderr=subprocess.STDOUT,
        env=env,
    )


def _start_cluster(worker_ranges: list[str]):
    procs = [
        _spark_class(
            "org.apache.spark.deploy.master.Master",
            "--host", "127.0.0.1", "--port", str(MASTER_PORT),
            "--webui-port", "8099",
        )
    ]
    _wait_port(MASTER_PORT)
    for i, rng in enumerate(worker_ranges):
        cores = len(_expand_range(rng))
        procs.append(
            _spark_class(
                "org.apache.spark.deploy.worker.Worker",
                MASTER_URL,
                "--cores", str(cores),
                "--memory", "28g",
                "--webui-port", str(8100 + i),
                "--work-dir", f"/tmp/horus_cluster_work_{i}",
                taskset=rng,
            )
        )
    time.sleep(5)  # workers register with the master
    return procs


def _expand_range(rng: str) -> list[int]:
    a, b = rng.split("-")
    return list(range(int(a), int(b) + 1))


def _stop(procs) -> None:
    for p in reversed(procs):
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            p.kill()
    time.sleep(2)


def _child(topology: str, stage: str) -> None:
    """Runs inside its own process: one Spark application, one stage."""
    from horus_spark.session import get_spark

    worker_ranges, exec_cores = TOPOLOGIES[topology]
    n_exec = 1 if worker_ranges is None else len(worker_ranges)
    total_cores = exec_cores * n_exec
    master = f"local[{total_cores}]" if worker_ranges is None else MASTER_URL
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.adaptive.enabled": "false",
        "spark.local.dir": "/dev/shm/spark-local",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.default.parallelism": str(total_cores),
    }
    if worker_ranges is not None:
        extra.update(
            {
                "spark.executor.cores": str(exec_cores),
                # small executors request proportionally less heap so a
                # 4-executor topology fits the host comfortably
                "spark.executor.memory": "24g" if exec_cores >= 8 else "6g",
                "spark.cores.max": str(total_cores),
                "spark.submit.pyFiles": PKG_ZIP,
                # wait for the full executor set before any stage runs:
                # a straggler registration would silently halve parallelism
                "spark.scheduler.minRegisteredResourcesRatio": "1.0",
                "spark.scheduler.maxRegisteredResourcesWaitingTime": "60s",
            }
        )
    spark = get_spark(
        app_name=f"horus_cluster_{topology}_{stage}", master=master, extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    if worker_ranges is not None:
        # executor sanity: memoryStatus includes the driver -> expect n+1
        deadline = time.time() + 60
        while time.time() < deadline:
            n_reg = spark._jsc.sc().getExecutorMemoryStatus().size() - 1
            if n_reg >= n_exec:
                break
            time.sleep(1)
        n_reg = spark._jsc.sc().getExecutorMemoryStatus().size() - 1
        if n_reg != n_exec:
            raise SystemExit(f"expected {n_exec} executors, got {n_reg}")

    words = spark.read.parquet(os.path.join(CORPUS, "ocr_words"))
    docs = spark.read.parquet(os.path.join(CORPUS, "documents"))
    if stage == "arrow_noop":
        from horus_spark.pipeline import _grouped_words

        grouped = _grouped_words(words, None)

        def ident(batches):
            yield from batches

        df = grouped.mapInArrow(ident, schema=grouped.schema)
    elif stage == "kernel":
        from horus_spark.pipeline import recognize

        df = recognize(words)
    elif stage == "full":
        from horus_spark.pipeline import run_extraction

        df = run_extraction(docs, words)
    else:
        raise SystemExit(f"unknown stage {stage}")

    jlogical = df._jdf.logicalPlan()
    jspark = spark._jsparkSession
    dataset_cls = spark._jvm.org.apache.spark.sql.classic.Dataset

    def one_run() -> int:
        return dataset_cls.ofRows(jspark, jlogical).queryExecution().toRdd().count()

    for _ in range(WARMUPS):
        one_run()
    times, n = [], 0
    for _ in range(RUNS):
        t0 = time.perf_counter()
        n = one_run()
        times.append(time.perf_counter() - t0)
    spark.stop()
    print(
        "LEVEL_RESULT "
        + json.dumps(
            {
                "topology": topology,
                "stage": stage,
                "n_executors": n_exec,
                "executor_cores": exec_cores,
                "rows": n,
                "times_sec": [round(t, 2) for t in times],
                "median_sec": round(statistics.median(times), 2),
                "min_sec": round(min(times), 2),
            }
        )
    )


def _run_child(topology: str, stage: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--child", topology, stage]
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, env=env)
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("LEVEL_RESULT ")]
    if not line:
        sys.stderr.write(proc.stdout + proc.stderr)
        raise SystemExit(f"{topology}/{stage} failed")
    return json.loads(line[-1][len("LEVEL_RESULT "):])


def _materialize() -> None:
    if os.path.exists(os.path.join(CORPUS, "documents", "_SUCCESS")) and os.path.exists(
        os.path.join(CORPUS, "ocr_words", "_SUCCESS")
    ):
        return
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.session import get_spark

    spark = get_spark(app_name="horus_cluster_gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    c = corpus_spark(spark, N_DOCS, partitions=32)
    c["documents"].write.mode("overwrite").parquet(os.path.join(CORPUS, "documents"))
    c["ocr_words"].write.mode("overwrite").parquet(os.path.join(CORPUS, "ocr_words"))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3])
        return
    _materialize()
    _make_pkg_zip()
    for d in ("/tmp/horus_cluster_work_0", "/tmp/horus_cluster_work_1"):
        shutil.rmtree(d, ignore_errors=True)
    # incremental protocol: results merge into BENCH_CLUSTER.json so
    # topologies can run one at a time (HORUS_CLUSTER_TOPOLOGIES=a,b);
    # corpus-size sweeps write elsewhere via HORUS_CLUSTER_OUT so the
    # canonical 100k file is never clobbered by an n_docs mismatch
    out_path = os.environ.get(
        "HORUS_CLUSTER_OUT", os.path.join(REPO, "BENCH_CLUSTER.json")
    )
    out: dict = {"n_docs": N_DOCS, "topologies": {}}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            prev = json.load(fh)
        if prev.get("n_docs") == N_DOCS:
            out = prev
    selected = os.environ.get(
        "HORUS_CLUSTER_TOPOLOGIES", ",".join(TOPOLOGIES)
    ).split(",")
    for topo, (worker_ranges, _ec) in TOPOLOGIES.items():
        if topo not in selected:
            continue
        procs = _start_cluster(worker_ranges) if worker_ranges else []
        try:
            rows = [_run_child(topo, s) for s in STAGES]
        finally:
            _stop(procs)
        out["topologies"][topo] = rows
        print(json.dumps({topo: rows}))
    # headline: does the Arrow boundary split across executor JVMs?
    try:
        one = next(
            r for r in out["topologies"]["standalone_1x16"] if r["stage"] == "arrow_noop"
        )
        two = next(
            r for r in out["topologies"]["standalone_2x8"] if r["stage"] == "arrow_noop"
        )
        out["arrow_boundary_split_1x16_over_2x8"] = round(
            one["min_sec"] / two["min_sec"], 3
        )
    except (StopIteration, KeyError):
        pass
    # headline: real executor-count N->4N scaling efficiency (full stage,
    # 1 executor x 2 cores -> 4 executors x 2 cores, min estimator)
    try:
        one = next(
            r for r in out["topologies"]["standalone_1x2"] if r["stage"] == "full"
        )
        four = next(
            r for r in out["topologies"]["standalone_4x2"] if r["stage"] == "full"
        )
        out["executor_scaling_eff_1x2_to_4x2"] = round(
            one["min_sec"] / (4.0 * four["min_sec"]), 3
        )
    except (StopIteration, KeyError):
        pass
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("WROTE BENCH_CLUSTER.json")


if __name__ == "__main__":
    main()
