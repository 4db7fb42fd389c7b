"""Self-test of the benchmark at a tiny corpus size.

    python3 perfbench/selftest.py

Checks, in one process:

1. an untraced run prints exactly BENCHMARK.json's end-to-end metrics, each
   with its unit, and finds every document correct;
2. a traced run prints exactly BENCHMARK.json's per-layer metrics, each with
   its unit;
3. with one corrupted span (a wrong `kind`) and one dropped document planted
   in every job's output, the check counts exactly those two documents as
   failed per checked job, and the run is not correct.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = 48


def _args(workload: str, trace: int):
    import run

    return run.parse_args(
        ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--docs", str(TINY)]
    )


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, file=sys.stderr, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import corpus as C
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    def units(result):
        return {k: v["unit"] for k, v in result["metrics"].items()}

    clean = run.run(_args("forms", 0))
    _expect(units(clean) == e2e, "untraced run prints every end-to-end metric with its unit")
    _expect(
        clean["correct"] and clean["failed"] == 0 and clean["attempted"] >= TINY,
        f"clean run is correct ({clean['failed']}/{clean['attempted']} failed)",
    )
    _expect(all(v["value"] > 0 for v in clean["metrics"].values()), "end-to-end metrics are non-zero")

    traced = run.run(_args("ingest", 1))
    _expect(units(traced) == layers, "traced run prints every per-layer metric with its unit")
    _expect(traced["correct"], "traced ingest run is correct")
    _expect(
        traced["metrics"]["sink.files_written"]["value"] > 0
        and traced["metrics"]["sink.chunk_commit_s_p50"]["value"] > 0,
        "ingest reports sink counts and chunk commit latency",
    )

    from pyspark.sql import functions as F

    ids = sorted(C.load_expected_ids(C.corpus_dir(run.WORK, 3, TINY)))
    corrupt, dropped = ids[0], ids[1]

    def plant(df):
        wrong = F.transform(
            "spans_out",
            lambda s, i: F.when(
                i == 0,
                s.withField(
                    "kind",
                    F.when(s["kind"] == "content", F.lit("boilerplate")).otherwise(F.lit("content")),
                ),
            ).otherwise(s),
        )
        return df.withColumn(
            "spans_out", F.when(F.col("doc_id") == corrupt, wrong).otherwise(F.col("spans_out"))
        ).where(F.col("doc_id") != dropped)

    faulty = run.run(_args("forms", 0), fault=plant)
    jobs = faulty["attempted"] // TINY
    _expect(
        not faulty["correct"] and faulty["failed"] == 2 * jobs,
        f"planted faults caught: {faulty['failed']} failed of {faulty['attempted']} "
        f"({jobs} jobs x 2 planted)",
    )
    run.shutdown_jvm()
    print("selftest passed", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
