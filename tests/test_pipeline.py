"""End-to-end golden tests: seeded corpus -> full pipeline -> exact
span-sequence equality (kind, text, media_ref, order) per BASELINE.json,
plus shredded-document reconciliation against the expected tables
(comparator semantics per reference Horus.Inspector/Inspector.cs:292-306:
decimals at 2dp, dates at day granularity, strings exact)."""

import pyspark.sql.functions as F
import pytest

from horus_spark.fixtures.generator import corpus_pandas, corpus_spark
from horus_spark.pipeline import run_extraction

N = 80


@pytest.fixture(scope="module")
def extracted(spark):
    c = corpus_spark(spark, N, partitions=4)
    out = run_extraction(c["documents"], c["ocr_words"]).cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def golden():
    return corpus_pandas(N)


def test_span_sequence_equality(spark, extracted, golden):
    exp = spark.createDataFrame(
        [(r["doc_id"], r["spans_out"]) for _, r in golden["expected_spans"].iterrows()],
        "doc_id string, e_spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    j = extracted.select("doc_id", "spans_out").join(exp, "doc_id")
    assert j.count() == N
    assert j.filter(F.col("spans_out") != F.col("e_spans")).count() == 0


def test_header_fields_match_expected(spark, extracted, golden):
    exp = spark.createDataFrame(
        golden["expected_documents"][
            ["doc_id", "account", "postal_code", "pre_tax_total", "tax_total",
             "shipping_total", "grand_total", "document_number", "document_date"]
        ]
    ).select(
        "doc_id",
        F.col("account").alias("e_account"),
        F.col("postal_code").alias("e_pc"),
        F.col("pre_tax_total").alias("e_pre"),
        F.col("tax_total").alias("e_tax"),
        F.col("shipping_total").alias("e_ship"),
        F.col("grand_total").alias("e_grand"),
        F.col("document_number").alias("e_num"),
        F.col("document_date").alias("e_date"),
    )
    j = extracted.join(exp, "doc_id")
    bad = j.filter(
        (F.round("net_total", 2) != F.round("e_pre", 2))
        | (F.round("vat_amount", 2) != F.round("e_tax", 2))
        | (F.round("shipping_total", 2) != F.round("e_ship", 2))
        | (F.round("grand_total", 2) != F.round("e_grand", 2))
        | (F.col("account") != F.col("e_account"))
        | (F.col("post_code") != F.col("e_pc"))
        | (F.col("document_number") != F.col("e_num"))
        | (F.to_date("tax_date") != F.to_date("e_date"))  # day-granularity
    )
    assert bad.count() == 0


def test_line_items_match_expected(spark, extracted, golden):
    el = spark.createDataFrame(golden["expected_lines"]).withColumn(
        "line_no", F.lpad("line_number", 2, "0")
    )
    act = extracted.select("doc_id", F.explode("line_items").alias("li")).select(
        "doc_id",
        F.col("li.line_no").alias("line_no"),
        F.col("li.net_amount").alias("a_net"),
        F.col("li.item_description").alias("a_desc"),
        F.col("li.line_quantity").alias("a_qty"),
        F.col("li.taxable_indicator").alias("a_tax"),
    )
    j = act.join(el, ["doc_id", "line_no"], "full")
    bad = j.filter(
        F.col("a_net").isNull()
        | F.col("discounted_goods_value").isNull()
        | (F.round("a_net", 2) != F.round("discounted_goods_value", 2))
        | (F.col("a_desc") != F.concat_ws(" ", "isbn", "title"))
        | (F.col("a_qty").cast("double") != F.col("quantity"))
        | (F.col("a_tax").isNotNull() != F.col("taxable"))
    )
    assert bad.count() == 0


def test_recognizer_status_and_time_to_shred(extracted):
    """P-channel integration of the round-3 additions: per-doc measured
    TimeToShred (HorusProcessingEngine.cs:15-16,87-88), RecognizerStatus/
    RecognizerErrors (Models/Document.cs:20-105) and the run stamps
    (HorusSql.cs:244-249) on every header row."""
    rows = extracted.select(
        "recognizer_status", "recognizer_errors", "time_to_shred_ms",
        "shredding_utc_datetime", "unique_run_identifier",
    ).collect()
    assert all(r.recognizer_status == "succeeded" for r in rows)
    assert all(r.recognizer_errors == [] for r in rows)
    # measured, plausible per-doc wall time: nonzero, under 5 s/doc
    assert all(0 < r.time_to_shred_ms < 5000 for r in rows)
    assert all(r.shredding_utc_datetime is not None for r in rows)
    run_ids = {r.unique_run_identifier for r in rows}
    assert len(run_ids) == 1 and None not in run_ids


def test_thumbprint_known_value(spark):
    """Pin the exact thumbprint byte layout: md5 over the span texts joined
    by ASCII RS (0x1E), space-separated uppercase hex pairs
    (reference DocumentProcessor.cs:217-223). The hardcoded value was
    computed independently with hashlib; if the separator in
    pipeline.thumbprint_expr ever changes (e.g. the escaped "\\x1e" being
    'normalized' to an empty string), this fails."""
    from horus_spark.pipeline import thumbprint_expr

    df = spark.createDataFrame(
        [("d1", [("text", "hello world", "", 0), ("text", "of forms", "", 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = df.select(thumbprint_expr().alias("t")).collect()[0].t
    assert got == "5A E4 D2 33 E0 0E 3E 1F 2C FA C9 0E 26 0F AC C7"


def test_unmatched_document_still_produces_row(spark):
    """A document with no OCR words must yield a row with error rows, not
    vanish (per-document isolation, DocumentProcessor.cs:101-106)."""
    docs = spark.createDataFrame(
        [("abc-INVOICE-99999.pdf", [("text", "hello world of forms", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    words = spark.createDataFrame(
        [],
        "doc_id string, page int, line_id int, word_id int, text string, bbox array<float>, confidence float",
    )
    out = run_extraction(docs, words).collect()
    assert len(out) == 1
    assert out[0].is_valid is True  # header errors are warnings only
    assert len(out[0].errors) == 10  # all header fields missing
    assert out[0].spans_out[0].kind == "content"
    assert out[0].recognizer_status == "notfound"  # recognizer never saw it


def test_heavy_doc_truncated_and_isolated(spark):
    """Skew guard + per-document isolation: a pathological megaword doc is
    word-capped inside the kernel, a doc with broken geometry degrades to
    the full error channel, and neither disturbs the other documents in
    the same batch."""
    import pandas as pd

    from horus_spark.fixtures.generator import corpus_pandas
    from horus_spark import pipeline as P
    from horus_spark import schema as S

    c = corpus_pandas(3)
    words = c["ocr_words"]
    # heavy doc: 30k words of noise (over the 20k cap)
    heavy = pd.DataFrame(
        {
            "doc_id": "abc-INVOICE-99999.pdf",
            "page": 1,
            "line_id": [i // 10 for i in range(30000)],
            "word_id": [i % 10 for i in range(30000)],
            "text": "x",
            "bbox": [[0.1, 0.1, 0.2, 0.1, 0.2, 0.2, 0.1, 0.2]] * 30000,
            "confidence": 0.9,
        }
    )
    # poison doc: NaN geometry
    poison = pd.DataFrame(
        {
            "doc_id": "abc-INVOICE-99998.pdf",
            "page": 1,
            "line_id": [0, 0],
            "word_id": [0, 1],
            "text": ["INVOICE", "nan-geom"],
            "bbox": [[float("nan")] * 8] * 2,
            "confidence": 0.9,
        }
    )
    all_words = pd.concat([words, heavy, poison], ignore_index=True)
    docs = pd.DataFrame(
        {
            "doc_id": list(c["documents"]["doc_id"])
            + ["abc-INVOICE-99999.pdf", "abc-INVOICE-99998.pdf"],
            "spans": list(c["documents"]["spans"]) + [[], []],
        }
    )
    sdocs = spark.createDataFrame(docs, S.DOCUMENTS)
    swords = spark.createDataFrame(all_words, S.OCR_WORDS)
    out = {r.doc_id: r for r in P.run_extraction(sdocs, swords).collect()}
    assert len(out) == 5
    # the three normal docs still extract fully
    for d in c["documents"]["doc_id"]:
        assert out[d].document_number is not None
    # poison doc degraded to the full error channel, not a task failure,
    # and the WHY is recorded on the recognizer outcome channel
    assert out["abc-INVOICE-99998.pdf"].warning_error_count >= 10
    assert out["abc-INVOICE-99998.pdf"].recognizer_status == "failed"
    assert len(out["abc-INVOICE-99998.pdf"].recognizer_errors) == 1
    for d in c["documents"]["doc_id"]:
        assert out[d].recognizer_status == "succeeded"


@pytest.mark.parametrize("seed,base", [(7, 40000), (77, 50000), (2026, 61000)])
def test_multi_seed_span_and_field_parity(spark, seed, base):
    """The seed-42 goldens could in principle be overfit; three unrelated
    seeds/number-ranges must ALSO produce exact span-sequence equality and
    mini-shredder field parity end-to-end."""
    from horus_spark.fixtures.generator import corpus_spark as cs
    from horus_spark.fixtures.oracle_shred import expected_shred

    n = 40
    c = cs(spark, n, base=base, seed=seed, partitions=4)
    out = run_extraction(c["documents"], c["ocr_words"]).cache()
    try:
        rows = {r.doc_id: r for r in out.collect()}
        assert len(rows) == n
        from horus_spark.fixtures.generator import generate_batch

        for d in generate_batch(range(base + 1, base + 1 + n), seed):
            r = rows[d["doc_id"]]
            # exact span-sequence equality (kind, text, media_ref, order)
            got_spans = [
                (s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out
            ]
            exp_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["expected_spans"]
            ]
            assert got_spans == exp_spans, d["doc_id"]
            # typed header/field parity via the independent mini-shredder
            exp = expected_shred(d["fields"])
            assert len(r.line_items) == exp["n_lines"], d["doc_id"]
            assert len(r.errors) == exp["n_errors"], d["doc_id"]
            assert r.is_valid == exp["is_valid"], d["doc_id"]
            assert r.account == exp["account"], d["doc_id"]
            assert round(r.grand_total, 2) == exp["grand_total"], d["doc_id"]
    finally:
        out.unpersist()


def _kernel_rows(batches) -> dict:
    """doc_id -> kernel output row (as a dict) minus the wall-clock timer."""
    rows = {}
    for b in batches:
        for r in b.to_pylist():
            r.pop("time_to_shred_ms")
            rows[r["doc_id"]] = r
    return rows


def test_extract_batch_empty_input_matches_schema(spark):
    """The grouped kernel yields nothing for an empty input (no stub batch
    to fail Arrow serialization), and every batch it does yield carries
    the declared Arrow output schema, whose columns are FIELDS_SCHEMA's."""
    from pyspark.sql.types import StructType

    from horus_spark import pipeline as P

    schema = P._arrow_fields_schema()
    assert schema.names == StructType.fromDDL(P.FIELDS_SCHEMA).names

    grouped = P._grouped_words(corpus_spark(spark, 4, partitions=2)["ocr_words"], None)
    batch = grouped.toArrow().combine_chunks().to_batches()[0]
    out = list(P._extract_iter_arrow_grouped(iter([batch])))
    assert sum(b.num_rows for b in out) == 4
    assert all(b.schema == schema for b in out)
    assert list(P._extract_iter_arrow_grouped(iter([batch.slice(0, 0)]))) == []
    assert list(P._extract_iter_arrow_grouped(iter([]))) == []


def test_boundary_shapes_agree(spark):
    """The Spark boundary (JVM bbox projection, grouped shuffle, Arrow IPC
    both ways) never changes what the kernel computes: recognize() over
    Spark equals _extract_batch_arrow run in-process on the same words in
    (doc_id, page, line_id, word_id) order. All columns except the
    wall-clock timer."""
    from horus_spark.pipeline import _extract_batch_arrow, recognize

    c = corpus_spark(spark, 60, partitions=4)
    words = c["ocr_words"]

    spark_rows = {
        r.doc_id: r.asDict(recursive=True)
        for r in recognize(words).drop("time_to_shred_ms").collect()
    }
    pdf = words.toPandas().sort_values(
        ["doc_id", "page", "line_id", "word_id"], ignore_index=True
    )
    local_rows = _kernel_rows([_extract_batch_arrow(pdf)])

    assert len(spark_rows) == len(local_rows) == 60
    assert spark_rows == local_rows


def test_doc_word_cap_truncates_in_reading_order(monkeypatch):
    """A doc over MAX_DOC_WORDS is cut to its first MAX_DOC_WORDS words in
    (page, line_id, word_id) order however its words arrive; docs under
    the cap in the same batch are unaffected."""
    from horus_spark import pipeline as P

    words = corpus_pandas(6)["ocr_words"]
    cap = 100
    sizes = words.groupby("doc_id").size()
    over = list(sizes[sizes > cap].index)
    under = list(sizes[sizes <= cap].index)
    assert over and under  # the batch exercises both branches
    shuffled = words.sample(frac=1.0, random_state=7).reset_index(drop=True)
    uncapped = _kernel_rows([P._extract_batch_arrow(shuffled)])

    monkeypatch.setattr(P, "MAX_DOC_WORDS", cap)
    capped = _kernel_rows([P._extract_batch_arrow(shuffled)])

    assert sorted(capped) == sorted(sizes.index)
    for d in over:
        head = (
            words[words["doc_id"] == d]
            .sort_values(["page", "line_id", "word_id"])
            .head(cap)
        )
        assert capped[d] == _kernel_rows([P._extract_batch_arrow(head)])[d], d
    assert any(capped[d] != uncapped[d] for d in over)  # the cap did bite
    for d in under:
        assert capped[d] == uncapped[d], d


def test_grouped_kernel_chunking_doc_aligned(spark):
    """Chunk boundaries in the grouped kernel walk whole documents: with a
    tiny chunk target every chunk still holds complete docs (one output row
    per doc overall, none split or dropped), including a doc larger than
    the chunk target on its own."""
    import pyarrow as pa

    from horus_spark import pipeline as P

    c = corpus_spark(spark, 25, partitions=2)
    grouped = P._grouped_words(c["ocr_words"], None).toArrow()
    batches = grouped.to_batches()

    old = P._KERNEL_CHUNK_ROWS
    P._KERNEL_CHUNK_ROWS = 8  # far below any real doc's word count
    try:
        out = list(P._extract_iter_arrow_grouped(iter(batches)))
    finally:
        P._KERNEL_CHUNK_ROWS = old
    ids = [i for b in out for i in b.column(0).to_pylist()]
    assert sorted(ids) == sorted(grouped.column("doc_id").to_pylist())
    assert len(ids) == len(set(ids)) == 25


# ------------------------------------------------- per-session expression memo

_RUN_STAMPS = ["shredding_utc_datetime", "unique_run_identifier", "time_to_shred_ms"]


def _rows_by_doc(df) -> dict:
    return {r.doc_id: r.asDict(recursive=True) for r in df.drop(*_RUN_STAMPS).collect()}


def _spy_shred_builder(monkeypatch) -> list:
    """Count calls of the shred expression builder (shred_fast reaches it
    by global lookup, so patching the module attribute sees every build)."""
    from horus_spark.operators import shred as S

    calls = []
    real = S._shred_exprs

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(S, "_shred_exprs", spy)
    return calls


def test_memoized_build_matches_cold_build(spark, monkeypatch):
    """Calls after the first reuse the session's expression trees (one
    shred build per engine), and the output of each call equals a cold
    build (memo cleared) on the same input: every column except the
    per-run stamps and the timer."""
    from horus_spark import exprmemo

    c = corpus_spark(spark, 24, partitions=2)
    docs, words = c["documents"], c["ocr_words"]
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    subsets = [ids[::2], ids[1::2]]
    engines = ["horus", "samplecustomer"]

    def run(subset, engine):
        return _rows_by_doc(
            run_extraction(
                docs.filter(F.col("doc_id").isin(subset)),
                words.filter(F.col("doc_id").isin(subset)),
                engine=engine,
            )
        )

    monkeypatch.setattr(exprmemo, "_slot", None)
    calls = _spy_shred_builder(monkeypatch)
    warm = {(e, i): run(s, e) for e in engines for i, s in enumerate(subsets)}
    assert len(calls) == len(engines)
    for (engine, i), got in warm.items():
        exprmemo._slot = None
        cold = run(subsets[i], engine)
        assert sorted(got) == sorted(cold) == sorted(subsets[i])
        assert got == cold, (engine, i)
    # the engines shred differently, so a memo keyed without the engine
    # would hand one engine's trees to the other
    assert warm[("horus", 0)] != warm[("samplecustomer", 0)]


def test_session_memo_resets_on_context_change(spark, monkeypatch):
    """A new active SparkContext empties the memo: nothing built under the
    previous context is handed out or kept."""
    from pyspark import SparkContext

    from horus_spark import exprmemo

    monkeypatch.setattr(exprmemo, "_slot", None)
    builds = []

    def build(tag):
        def b():
            builds.append(tag)
            return object()

        return b

    first = exprmemo.session_memo("a", build("a"))
    assert exprmemo.session_memo("a", build("a")) is first
    assert builds == ["a"]

    sentinel = object()
    monkeypatch.setattr(SparkContext, "_active_spark_context", sentinel)
    b = exprmemo.session_memo("b", build("b"))
    assert exprmemo._slot[0] is sentinel
    assert list(exprmemo._slot[1]) == ["b"]
    assert exprmemo._slot[1]["b"] is b
    assert exprmemo.session_memo("a", build("a")) is not first
    assert builds == ["a", "b", "a"]
    assert sorted(exprmemo._slot[1]) == ["a", "b"]


def test_warm_build_py4j_budget(spark, monkeypatch):
    """A warm run_extraction build (no action) makes at most a fifth of
    the py4j round trips of a cold one: the shred, classify and
    thumbprint trees are not rebuilt per call. The releases py4j sends
    for garbage-collected JVM references are not counted: when they go
    out depends on the interpreter's GC, not on the build."""
    import gc

    from py4j import protocol

    from horus_spark import exprmemo

    c = corpus_spark(spark, 8, partitions=2)
    docs, words = c["documents"], c["ocr_words"]
    docs.columns, words.columns  # analyse the inputs outside the count
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counted(command, *a, **kw):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(1)
        return real(command, *a, **kw)

    def build_calls() -> int:
        gc.collect()
        sent.clear()
        run_extraction(docs, words)
        return len(sent)

    monkeypatch.setattr(exprmemo, "_slot", None)
    monkeypatch.setattr(client, "send_command", counted)
    cold = build_calls()
    warm = build_calls()
    assert warm * 5 <= cold, (warm, cold)


def test_run_checkpointed_builds_shred_once(spark, monkeypatch, tmp_path):
    """Each checkpointed chunk calls run_extraction; the shred expression
    trees are built for the first chunk only."""
    from horus_spark import exprmemo
    from horus_spark.sources.sink import run_checkpointed

    c = corpus_spark(spark, 12, partitions=2)
    monkeypatch.setattr(exprmemo, "_slot", None)
    calls = _spy_shred_builder(monkeypatch)
    res = run_checkpointed(c["documents"], c["ocr_words"], str(tmp_path / "out"), n_chunks=3)
    assert len(res["completed"]) == 3
    assert len(calls) == 1


def test_session_memo_concurrent_misses_share_one_value(monkeypatch):
    """Threads missing the same key at once (streaming micro-batches call
    in from py4j threads) all get the value that was stored first."""
    import sys
    import threading
    import time

    from pyspark import SparkContext

    from horus_spark import exprmemo

    monkeypatch.setattr(exprmemo, "_slot", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    got = []

    def build():
        time.sleep(0.001)
        return object()

    def worker():
        for i in range(50):
            got.append((i, exprmemo.session_memo(i, build)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(got) == 16 * 50
    assert all(v is exprmemo._slot[1][i] for i, v in got)
