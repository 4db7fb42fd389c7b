"""Single-process timing of the extraction kernel's layers.

Runs the kernel's Arrow entry point (the function `recognize` maps over
grouped documents) in this Python process over a fixed document sample,
grouped by the pipeline's own grouping step, with timing wrappers around
the four layer functions the kernel calls by module attribute:

- kernel.l1_cluster_lines_s   operators.layout.cluster_lines
- kernel.fragments_view_s     operators.layout.fragments_view
- kernel.l2_infer_grid_s      operators.layout.infer_grid_arrays
- kernel.l3l4_fields_s        operators.fields.extract_fields_arrays
- kernel.glue_s               kernel total minus the four (self time)
- kernel.docs_per_s_1core     sample docs / unwrapped kernel wall

A layer function or entry point that no longer exists is reported absent
(value 0, name listed in `absent`), not as an error.
"""

from __future__ import annotations

import os
import time

ENTRY = "_extract_iter_arrow_grouped"
GROUPING = "_grouped_words"
LAYERS = {
    "cluster_lines": "kernel.l1_cluster_lines_s",
    "fragments_view": "kernel.fragments_view_s",
    "infer_grid_arrays": "kernel.l2_infer_grid_s",
    "extract_fields_arrays": "kernel.l3l4_fields_s",
}
KEYS = list(LAYERS.values()) + ["kernel.glue_s", "kernel.docs_per_s_1core"]


def grouped_sample(spark, corpus: str, n_docs: int):
    """First `n_docs` documents (by doc_id) of the corpus as one RecordBatch
    of the kernel's input shape, built by the program's own grouping
    (`pipeline.GROUPING`); None when that function no longer exists."""
    from pyspark.sql import functions as F

    from horus_spark import pipeline

    grouping = getattr(pipeline, GROUPING, None)
    if not callable(grouping):
        return None
    words = spark.read.parquet(os.path.join(corpus, "ocr_words"))
    ids = [r[0] for r in words.select("doc_id").distinct().orderBy("doc_id").limit(n_docs).collect()]
    grouped = grouping(words.where(F.col("doc_id").isin(ids)), None).orderBy("doc_id")
    return grouped.toArrow().combine_chunks().to_batches()[0]


def _run(entry, batch) -> tuple[int, float]:
    t0 = time.perf_counter()
    docs = sum(out.num_rows for out in entry(iter([batch]), None))
    return docs, time.perf_counter() - t0


def probe(batch, repeats: int = 3) -> tuple[dict, list[str], list[dict]]:
    """(metrics, absent names, spans). Each figure is the median of
    `repeats` passes after one warm-up pass."""
    import statistics

    from horus_spark import pipeline

    entry = getattr(pipeline, ENTRY, None)
    if entry is None or batch is None:
        return {k: 0.0 for k in KEYS}, [ENTRY if entry is None else GROUPING] + list(LAYERS), []
    _run(entry, batch)  # warm-up: imports, allocator, caches
    plain = [_run(entry, batch) for _ in range(repeats)]
    docs = plain[0][0]
    wall = statistics.median(w for _, w in plain)

    absent = [name for name in LAYERS if not callable(getattr(pipeline, name, None))]
    acc = {name: 0.0 for name in LAYERS}
    spans: list[dict] = []
    originals = {name: getattr(pipeline, name) for name in LAYERS if name not in absent}

    def wrap(name, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                acc[name] += time.perf_counter() - t0

        return timed

    per_pass = []
    try:
        for name, fn in originals.items():
            setattr(pipeline, name, wrap(name, fn))
        for _ in range(repeats):
            for name in acc:
                acc[name] = 0.0
            t0 = time.time()
            _, w = _run(entry, batch)
            per_pass.append((w, dict(acc)))
            spans.append({"name": "kernel.probe_pass", "start": t0, "end": t0 + w})
    finally:
        for name, fn in originals.items():
            setattr(pipeline, name, fn)
    per_pass.sort(key=lambda p: p[0])
    w_traced, layer = per_pass[len(per_pass) // 2]
    m = {LAYERS[name]: layer[name] for name in LAYERS}
    m["kernel.glue_s"] = max(w_traced - sum(layer.values()), 0.0)
    m["kernel.docs_per_s_1core"] = docs / wall if wall > 0 else 0.0
    return m, absent, spans
