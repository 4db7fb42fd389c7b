"""Seeded corpus generation, caching and the output check.

The corpus is the program's own synthetic invoice generator
(`horus_spark.fixtures.generator.generate_batch`, over the document numbers
`corpus_spark` uses): document n of seed s is generated from its own
RandomState, so (seed, size) fixes every input and every golden. Each
document is generated once, before any Spark session starts, into three
tables:

- documents    (doc_id, spans)                    the pipeline input
- ocr_words    (doc_id, page, line_id, ..., bbox) the pipeline input
- expected     (doc_id, spans_out)                golden `expected_spans`

Tables are cached under the benchmark's work directory keyed by
(seed, size); generation is never timed.

The check: every output document must be present, have
`recognizer_status = 'succeeded'`, and a `spans_out` sequence equal to
the generator's `expected_spans` (kind, text, media_ref, offset, in
offset order). Sequences are compared through an xxhash64 digest computed
by the same Spark expression on both sides.
"""

from __future__ import annotations

import os
import shutil

BASE = 30000  # the generator's document-number base (corpus_spark default)
CACHE_KEEP = 16  # corpora kept in the cache, most recent first
# documents per input file: the forms corpus then spans two files per core on
# a 4-core host, so its scan and shred stages run two tasks per core and one
# slow core does not hold up a stage, while the small ingest corpus is not
# cut into files so small that per-file cost dominates its chunk
DOCS_PER_FILE = 200


def spans_digest(col):
    """xxhash64 of a span array in array order (kind, text, media_ref, offset)."""
    from pyspark.sql import functions as F

    return F.xxhash64(
        F.transform(
            col,
            lambda s: F.struct(s["kind"], s["text"], s["media_ref"], s["offset"]),
        )
    )


def corpus_dir(work: str, seed: int, n_docs: int) -> str:
    return os.path.join(work, "corpus", f"seed{seed}_docs{n_docs}")


def _write_tables(seed: int, n_docs: int, out: str) -> None:
    """Generate the corpus with the program's `generate_batch` and write its
    three tables to `out`, each as files of DOCS_PER_FILE consecutive
    documents (the last one may hold fewer)."""
    from horus_spark.fixtures.generator import generate_batch

    everything = generate_batch(range(BASE + 1, BASE + 1 + n_docs), seed)
    parts = -(-n_docs // DOCS_PER_FILE)
    for name in ("documents", "ocr_words", "expected"):
        os.makedirs(os.path.join(out, name))
    for part in range(parts):
        docs = everything[n_docs * part // parts : n_docs * (part + 1) // parts]
        _write_part(docs, out, f"part-{part:05d}.parquet")


def _write_part(docs: list, out: str, file_name: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from horus_spark import schema as S

    tables = {
        "documents": pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs],
            schema=to_arrow_schema(S.DOCUMENTS),
        ),
        "ocr_words": pa.Table.from_pylist(
            [w for d in docs for w in d["ocr_words"]], schema=to_arrow_schema(S.OCR_WORDS)
        ),
        "expected": pa.Table.from_pylist(
            [
                {
                    "doc_id": d["doc_id"],
                    "spans_out": sorted(d["expected_spans"], key=lambda s: s["offset"]),
                }
                for d in docs
            ],
            schema=to_arrow_schema(S.SPANS_OUT),
        ),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, name, file_name))


def ensure_corpus(work: str, seed: int, n_docs: int) -> str:
    """Generate (or reuse) the corpus for (seed, n_docs); returns its directory."""
    path = corpus_dir(work, seed, n_docs)
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        os.utime(path)  # recency for pruning
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_tables(seed, n_docs, tmp)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _prune(os.path.dirname(path))
    return path


def _prune(root: str) -> None:
    """Keep the CACHE_KEEP most recent corpora; drop partial ones left by an
    interrupted run (older than an hour)."""
    import time

    complete, stale = [], []
    for e in os.listdir(root):
        p = os.path.join(root, e)
        if os.path.exists(os.path.join(p, "_COMPLETE")):
            complete.append(p)
        elif time.time() - os.path.getmtime(p) > 3600:
            stale.append(p)
    complete.sort(key=os.path.getmtime, reverse=True)
    for old in complete[CACHE_KEEP:] + stale:
        shutil.rmtree(old, ignore_errors=True)


def load_expected(spark, path: str) -> dict:
    """doc_id -> golden span digest."""
    from pyspark.sql import functions as F

    golden = spark.read.parquet(os.path.join(path, "expected"))
    rows = golden.select("doc_id", spans_digest(F.col("spans_out")).alias("d")).collect()
    return {r["doc_id"]: r["d"] for r in rows}


def output_digest(extracted):
    """The rows the check needs from an EXTRACTED_DOCUMENT frame. The
    whole-row hash keeps every output column live, so column pruning cannot
    skip any part of the shred while only three small columns are
    collected."""
    from pyspark.sql import functions as F

    return extracted.select(
        "doc_id",
        "recognizer_status",
        spans_digest(F.col("spans_out")).alias("digest"),
        F.xxhash64(*extracted.columns).alias("row_hash"),
    )


def count_failed(rows, expected: dict) -> int:
    """Documents of `expected` missing from `rows`, not succeeded, or whose
    span digest differs; duplicated or unknown output documents also count."""
    seen: dict = {}
    bad = 0
    for r in rows:
        d = r["doc_id"]
        if d in seen or d not in expected:
            bad += 1
            continue
        seen[d] = r["recognizer_status"] == "succeeded" and r["digest"] == expected[d]
    bad += sum(1 for ok in seen.values() if not ok)
    bad += len(expected) - len(seen)
    return min(bad, len(expected))


def load_expected_ids(path: str) -> list[str]:
    """Document ids of a generated corpus (no Spark needed)."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(path, "expected"), columns=["doc_id"]).column(
        "doc_id"
    ).to_pylist()
