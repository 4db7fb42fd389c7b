"""Decompose the 8->32-core scaling wall: which stage stops scaling?

Round-2 finding: the FULL pipeline scales ~0.8 from 2->8 pinned cores but
only ~0.45-0.50 from 8->32. This tool attributes the knee by benching the
pipeline's two halves separately at pinned 8/16/32 cores, plus an Arrow
kernel-chunk-size sweep at 32:

- stage "kernel": scan -> grouped shuffle (collect_list per doc_id) ->
  mapInArrow layout kernel (Python compute + Arrow transfer) -> count.
  The Python/Arrow half.
- stage "shuffle": the kernel stage minus Python (JVM only).
- stage "arrow_noop": the kernel stage with an identity mapInArrow in
  place of the kernel (shuffle + Arrow boundary, zero per-doc compute).
- stage "jvm": documents join PRE-STAGED recognizer output (parquet) ->
  thumbprint + span classification + shred expressions -> count. Pure
  JVM whole-stage codegen + one join shuffle; zero Python in the path
  (uses run_extraction(fields_df=...), the re-shred API).
- stage "full": the end-to-end pipeline (reference numbers, same protocol
  as tools/bench_scaling.py).

Protocol per measurement: own subprocess (fresh JVM), taskset-pinned to
exactly `cores` CPUs (local[N] alone lets JVM/Python helper threads spill
onto spare host cores), 3 warm-ups, min of 5 fresh-QueryExecution runs
(bursty one-sided hypervisor steal -> min is the capability estimator).

Usage: python tools/bench_decompose.py          # writes BENCH_DECOMPOSE.json
       HORUS_SCALE_LEVELS=8,16,32 HORUS_SCALE_DOCS=100000 ...
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("HORUS_SCALE_DOCS", "100000"))
CORPUS = f"/tmp/horus_bench_corpus_{N_DOCS}"
FIELDS = f"/tmp/horus_decompose_fields_{N_DOCS}"
LEVELS = [int(x) for x in os.environ.get("HORUS_SCALE_LEVELS", "8,16,32").split(",")]
CHUNK_SWEEP = [16384, 65536, 262144]
WARMUPS = 3
RUNS = 5


def _spark(cores: int, app: str):
    from horus_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "1m",
            "spark.sql.adaptive.enabled": "false",
            "spark.local.dir": "/dev/shm/spark-local",
            "spark.cleaner.periodicGC.interval": "15s",
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
                "HORUS_ARROW_BATCH", "65536"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _level_child(cores: int, stage: str) -> None:
    import time

    spark = _spark(cores, f"horus_decompose_{stage}_{cores}")
    docs = spark.read.parquet(os.path.join(CORPUS, "documents"))
    words = spark.read.parquet(os.path.join(CORPUS, "ocr_words"))

    if stage == "kernel":
        from horus_spark.pipeline import recognize

        df = recognize(words)
    elif stage == "shuffle":
        # the kernel stage MINUS Python: scan -> project -> grouped
        # shuffle, counted post-exchange (JVM only)
        from horus_spark.pipeline import _grouped_words

        df = _grouped_words(words, None)
    elif stage == "arrow_noop":
        # shuffle + Arrow boundary + Python workers, but ZERO per-doc
        # compute: an identity mapInArrow over the same grouped input
        from horus_spark.pipeline import _grouped_words

        grouped = _grouped_words(words, None)

        def ident(batches):
            yield from batches

        df = grouped.mapInArrow(ident, schema=grouped.schema)
    elif stage == "jvm":
        from horus_spark.pipeline import run_extraction

        staged = spark.read.parquet(FIELDS)
        df = run_extraction(docs, None, fields_df=staged)
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
                "stage": stage,
                "cores": cores,
                "chunk_rows": int(os.environ.get("HORUS_KERNEL_CHUNK_ROWS", "65536")),
                "rows": n,
                "times_sec": [round(t, 2) for t in times],
                "median_sec": round(statistics.median(times), 2),
                "min_sec": round(min(times), 2),
            }
        )
    )


def _materialize() -> None:
    need_corpus = not os.path.exists(os.path.join(CORPUS, "documents", "_SUCCESS"))
    need_fields = not os.path.exists(os.path.join(FIELDS, "_SUCCESS"))
    if not (need_corpus or need_fields):
        return
    spark = _spark(32, "horus_decompose_gen")
    if need_corpus:
        from horus_spark.fixtures.generator import corpus_spark

        c = corpus_spark(spark, N_DOCS, partitions=32)
        c["documents"].write.mode("overwrite").parquet(os.path.join(CORPUS, "documents"))
        c["ocr_words"].write.mode("overwrite").parquet(os.path.join(CORPUS, "ocr_words"))
    if need_fields:
        from horus_spark.pipeline import recognize

        words = spark.read.parquet(os.path.join(CORPUS, "ocr_words"))
        recognize(words).write.mode("overwrite").parquet(FIELDS)
    spark.stop()


def _run_child(cores: int, stage: str, env_extra: dict | None = None) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--level", str(cores), stage]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    env.update(env_extra or {})
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, env=env)
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("LEVEL_RESULT ")]
    if not line:
        sys.stderr.write(proc.stdout + proc.stderr)
        raise SystemExit(f"stage {stage} cores {cores} failed")
    return json.loads(line[-1][len("LEVEL_RESULT "):])


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--level":
        _level_child(int(sys.argv[2]), sys.argv[3])
        return
    _materialize()
    stages = tuple(
        s
        for s in os.environ.get("HORUS_SCALE_STAGES", "kernel,jvm,full").split(",")
        if s
    )
    do_sweep = os.environ.get("HORUS_CHUNK_SWEEP", "1") == "1"
    out: dict = {"n_docs": N_DOCS, "levels": LEVELS, "stages": {}, "chunk_sweep": []}
    for stage in stages:
        rows = [_run_child(c, stage) for c in LEVELS]
        base = rows[0]
        for r in rows:
            r["speedup_vs_first"] = round(base["min_sec"] / r["min_sec"], 3)
            r["efficiency_vs_first"] = round(
                r["speedup_vs_first"] / (r["cores"] / base["cores"]), 3
            )
        out["stages"][stage] = rows
        print(json.dumps({stage: rows}))
    if do_sweep:
        for chunk in CHUNK_SWEEP:
            r = _run_child(
                max(LEVELS), "kernel", {"HORUS_KERNEL_CHUNK_ROWS": str(chunk)}
            )
            out["chunk_sweep"].append(r)
            print(json.dumps(r))
    dest = os.environ.get("HORUS_DECOMPOSE_OUT", "BENCH_DECOMPOSE.json")
    with open(os.path.join(REPO, dest), "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"WROTE {dest}")


if __name__ == "__main__":
    main()
