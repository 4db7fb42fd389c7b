"""Document shredder — fields -> typed document + line items + error rows.

Re-expresses the reference's shredding semantics
(reference Horus.Functions/Engines/Processing/HorusProcessingEngine.cs:13-90
and ProcessingEngine.cs:15-130) as PURE Spark SQL expressions.

Two equivalent entry points (parity-tested against each other):

- shred(df):      consumes a dynamic fields map<string,string> — the exact
                  shape of the reference's recognizer output; used for
                  parity tests and ad-hoc shredding.
- shred_fast(df): consumes pre-parsed raw columns (header_raw struct +
                  lines_raw array, built inside the recognize UDF where the
                  dict is already in hand). Semantically identical, but the
                  expression tree is ~10x smaller (no per-key map scans, no
                  49-step presence aggregate), which keeps whole-stage
                  codegen JIT-friendly — the map variant generated a
                  megamorphic method that ran 3x SLOWER than interpreted.

Parity points preserved exactly (both paths):
- quote sanitization '\'' -> '@Illegal@' (ProcessingEngine.cs:37-40)
- PRE0001..PRE0007 error rows, severities, message text and ORDER of
  emission: header fields in extraction order (HorusProcessingEngine.cs:28-37:
  OrderNO, OrderDate, TaxDate, Inv, AccountNo, Total, VAT, Shipping,
  TotalIncVAT, PostCode), then per line: Drug logged at Warning then read at
  Terminal (the reference calls GetString twice — log.LogTrace at
  HorusProcessingEngine.cs:65 — so a missing Drug yields TWO PRE0001 rows),
  Qty, Net(Terminal), Unit(Terminal), Vat, Disc, Taxable.
- prefix-termination line scan: line i exists iff any of Unit{i:02d},
  Net{i:02d}, Drug{i:02d} is present as a key; the scan BREAKS at the first
  absent line (max 49) — later lines are invisible even if present
  (HorusProcessingEngine.cs:49-85, ProcessingEngine.cs:15-35).
- LineQuantity is a STRING: the decimal-normalized text if parseable else ''
  (C# Nullable<decimal>.ToString(); HorusProcessingEngine.cs:69).
- numeric coalesce `?? 0`; PRE0004 zero-value warning is always Warning.
- TaxPeriod = year + month with NO zero padding (HorusProcessingEngine.cs:42-45).
- CalculatedLineQuantity = NetAmount/UnitPrice when both nonzero else 0
  (Models/DocumentLineItem.cs:18-26).
- IsValid / error counts (Models/Document.cs:42-57).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from horus_spark import constants as C
from horus_spark import errors as E
from horus_spark.exprmemo import session_memo

# C#-Decimal.TryParse-compatible numeric shape after space stripping;
# allows thousands commas (stripped before cast).
_NUM_RE = r"^[+-]?([0-9][0-9,]*\.?[0-9]*|\.[0-9]+)$"

LINE_ITEM_TYPE = (
    "array<struct<line_no:string,item_description:string,line_quantity:string,"
    "unit_price:double,vat_code:string,taxable_indicator:string,net_amount:double,"
    "calculated_line_quantity:double,discount_percent:double>>"
)
ERRORS_TYPE = "array<struct<code:string,severity:string,message:string>>"

HEADER_RAW_FIELDS = [
    "order_number", "order_date", "tax_date", "inv", "account",
    "net_total", "vat_amount", "shipping_total", "grand_total", "post_code",
]
LINE_RAW_FIELDS = ["drug", "qty", "unit", "vat", "disc", "taxable", "net"]


def _err(code: str, severity: str, message: Column) -> Column:
    return F.struct(
        F.lit(code).alias("code"),
        F.lit(severity).alias("severity"),
        message.alias("message"),
    )


def _sanitize(col: Column) -> Column:
    # literal replace — no regex engine in the per-field hot path
    return F.replace(col, F.lit("'"), F.lit(E.ILLEGAL_MARKER))


# ---------------------------------------------------------------- raw helpers
# Each operates on a nullable raw-text Column; NULL raw <=> element missing.


def str_value(raw: Column) -> Column:
    return F.when(raw.isNotNull(), _sanitize(raw))


def str_error(raw: Column, key: Column, severity: str) -> Column:
    return F.when(
        raw.isNull(),
        _err(
            E.CODE_STRING_NULL,
            severity,
            F.concat(F.lit("GetString() Specified Element "), key, F.lit(" is null")),
        ),
    )


def _num_cleaned(raw: Column) -> Column:
    return F.replace(F.trim(raw), F.lit(" "), F.lit(""))


def num_parse_ok(raw: Column) -> Column:
    return _num_cleaned(raw).rlike(_NUM_RE)


def num_value(raw: Column) -> Column:
    """Parsed value or NULL (caller applies `?? 0` where the reference does)."""
    return F.when(
        raw.isNotNull() & num_parse_ok(raw),
        F.replace(_num_cleaned(raw), F.lit(","), F.lit("")).cast("double"),
    )


def num_normalized_string(raw: Column) -> Column:
    """C# decimal round-trip string of the parsed value ('' when null)."""
    cleaned = F.replace(_num_cleaned(raw), F.lit(","), F.lit(""))
    norm = F.regexp_replace(cleaned, r"^([+-]?)0+([0-9])", r"$1$2")
    norm = F.regexp_replace(norm, r"^([+-]?)\.", r"$10.")
    return F.when(num_value(raw).isNotNull(), norm).otherwise(F.lit(""))


def num_error(raw: Column, key: Column, severity: str) -> Column:
    return (
        F.when(
            raw.isNull(),
            _err(
                E.CODE_NUMBER_NULL,
                severity,
                F.concat(F.lit("GetNumber() Specified Element "), key, F.lit(" is null")),
            ),
        )
        .when(
            ~num_parse_ok(raw),
            _err(
                E.CODE_NUMBER_PARSE,
                severity,
                _sanitize(
                    F.concat(
                        F.lit("GetNumber() "),
                        key,
                        F.lit(" exists but cannot be parsed as a number="),
                        raw,
                    )
                ),
            ),
        )
        .when(
            num_value(raw) == 0,
            _err(
                E.CODE_NUMBER_ZERO,
                E.SEV_WARNING,  # zero warning is ALWAYS Warning severity
                F.concat(F.lit("GetNumber() "), key, F.lit(" exists but its value is zero")),
            ),
        )
    )


def date_value(raw: Column) -> Column:
    r = F.trim(raw)
    return F.coalesce(
        F.try_to_timestamp(r, F.lit("dd/MM/yyyy")),
        F.try_to_timestamp(r, F.lit("dd/MM/yyyy HH:mm:ss")),  # dmy per fields.json
        F.try_to_timestamp(r, F.lit("M/d/yyyy h:mm:ss a")),
        F.try_to_timestamp(r, F.lit("M/d/yyyy H:mm:ss")),
        F.try_to_timestamp(r, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(r, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(r),
    )


def date_error(raw: Column, key: Column, severity: str) -> Column:
    return F.when(
        raw.isNull(),
        _err(
            E.CODE_DATE_NULL,
            severity,
            F.concat(F.lit("GetDate() Specified Element "), key, F.lit(" is null")),
        ),
    ).when(
        date_value(raw).isNull(),
        _err(
            E.CODE_DATE_PARSE,
            severity,
            _sanitize(
                F.concat(
                    F.lit("GetDate() Specified Element "),
                    key,
                    F.lit(" does not contain a valid date: TaxDate="),
                    raw,
                )
            ),
        ),
    )


# ------------------------------------------------------------------ core


def _shred_exprs(
    header: Column,
    lines_raw: Column,
    cols: tuple[str, ...],
    carry: tuple[str, ...],
    engine=None,
) -> tuple[Column, list[Column]]:
    """Shared shredding logic over raw header struct + raw line array, as
    (all_errors_expr, select_cols) for an input with columns `cols`; apply
    with _apply_shred. No DataFrame is touched, so the result can be reused
    for any input with the same columns (see shred_fast).
    `engine` (engines.EngineSpec) selects which field channels exist —
    the reference's pluggable IProcessingEngine surface. Channels an
    engine omits keep their C# default values (0 / null) and emit no
    error rows, so the output schema is engine-invariant."""
    from horus_spark.engines import HORUS_ENGINE

    engine = engine or HORUS_ENGINE

    def k(name: str) -> Column:
        return F.lit(name)

    h = header
    order_number = str_value(h["order_number"])
    order_date = date_value(h["order_date"])
    tax_date = date_value(h["tax_date"])
    document_number = str_value(h["inv"])
    account = str_value(h["account"])
    net_total = F.coalesce(num_value(h["net_total"]), F.lit(0.0))
    vat_amount = F.coalesce(num_value(h["vat_amount"]), F.lit(0.0))
    shipping_total = (
        F.coalesce(num_value(h["shipping_total"]), F.lit(0.0))
        if engine.include_shipping
        else F.lit(0.0)  # SampleCustomer never reads Shipping -> C# default
    )
    grand_total = F.coalesce(num_value(h["grand_total"]), F.lit(0.0))
    post_code = str_value(h["post_code"])
    tax_period = F.when(
        tax_date.isNotNull(),
        F.concat(F.year(tax_date).cast("string"), F.month(tax_date).cast("string")),
    )

    header_error_entries = [
        str_error(h["order_number"], k(C.ORDER_NUMBER), E.SEV_WARNING),
        date_error(h["order_date"], k(C.ORDER_DATE), E.SEV_WARNING),
        date_error(h["tax_date"], k(C.TAX_DATE), E.SEV_WARNING),
        str_error(h["inv"], k(C.INVOICE_NUMBER), E.SEV_WARNING),
        str_error(h["account"], k(C.ACCOUNT), E.SEV_WARNING),
        num_error(h["net_total"], k(C.NET_TOTAL), E.SEV_WARNING),
        num_error(h["vat_amount"], k(C.VAT_AMOUNT), E.SEV_WARNING),
    ]
    if engine.include_shipping:
        header_error_entries.append(
            num_error(h["shipping_total"], k(C.SHIPPING_TOTAL), E.SEV_WARNING)
        )
    header_error_entries += [
        num_error(h["grand_total"], k(C.GRAND_TOTAL), E.SEV_WARNING),
        str_error(h["post_code"], k(C.POST_CODE), E.SEV_WARNING),
    ]
    header_errors = F.array(*header_error_entries)

    def lkey(prefix: str, i: Column) -> Column:
        return F.concat(F.lit(prefix), F.lpad((i + 1).cast("string"), 2, "0"))

    def line_struct(l: Column, i: Column) -> Column:
        net = F.coalesce(num_value(l["net"]), F.lit(0.0))
        unit = F.coalesce(num_value(l["unit"]), F.lit(0.0))
        return F.struct(
            F.lpad((i + 1).cast("string"), 2, "0").alias("line_no"),
            str_value(l["drug"]).alias("item_description"),
            num_normalized_string(l["qty"]).alias("line_quantity"),
            unit.alias("unit_price"),
            str_value(l["vat"]).alias("vat_code"),
            (
                str_value(l["taxable"])
                if engine.include_taxable
                else F.lit(None).cast("string")
            ).alias("taxable_indicator"),
            net.alias("net_amount"),
            F.when((net != 0) & (unit != 0), net / unit)
            .otherwise(F.lit(0.0))
            .alias("calculated_line_quantity"),
            (
                F.coalesce(num_value(l["disc"]), F.lit(0.0))
                if engine.include_discount
                else F.lit(0.0)
            ).alias("discount_percent"),
        )

    def line_errors(l: Column, i: Column) -> Column:
        entries = [
            str_error(l["drug"], lkey(C.LINE_ITEM_PREFIX, i), E.SEV_WARNING),  # LogTrace
            str_error(l["drug"], lkey(C.LINE_ITEM_PREFIX, i), E.SEV_TERMINAL),
            num_error(l["qty"], lkey(C.QUANTITY_PREFIX, i), E.SEV_WARNING),
            num_error(l["net"], lkey(C.NET_PRICE_PREFIX, i), E.SEV_TERMINAL),
            num_error(l["unit"], lkey(C.UNIT_PRICE_PREFIX, i), E.SEV_TERMINAL),
            str_error(l["vat"], lkey(C.VAT_CODE_PREFIX, i), E.SEV_WARNING),
        ]
        if engine.include_discount:
            entries.append(
                num_error(l["disc"], lkey(C.DISCOUNT_PERCENT_PREFIX, i), E.SEV_WARNING)
            )
        if engine.include_taxable:
            entries.append(
                str_error(l["taxable"], lkey(C.TAXABLE_PREFIX, i), E.SEV_WARNING)
            )
        return F.array(*entries)

    line_items = F.transform(lines_raw, line_struct)
    all_errors_expr = F.filter(
        F.concat(header_errors, F.flatten(F.transform(lines_raw, line_errors))),
        lambda e: e.isNotNull(),
    )
    # staged as __all_errors by _apply_shred
    all_errors = F.col("__all_errors")

    terminal_count = F.size(F.filter(all_errors, lambda e: e["severity"] == E.SEV_TERMINAL))
    warning_count = F.size(F.filter(all_errors, lambda e: e["severity"] == E.SEV_WARNING))

    return all_errors_expr, [
        F.col("doc_id"),
        (F.col("file_name") if "file_name" in cols else F.col("doc_id")).alias("file_name"),
        document_number.alias("document_number"),
        order_number.alias("order_number"),
        order_date.alias("order_date"),
        tax_date.alias("tax_date"),
        tax_period.alias("tax_period"),
        account.alias("account"),
        post_code.alias("post_code"),
        net_total.alias("net_total"),
        vat_amount.alias("vat_amount"),
        shipping_total.alias("shipping_total"),
        grand_total.alias("grand_total"),
        (F.col("thumbprint") if "thumbprint" in cols else F.lit(None).cast("string")).alias(
            "thumbprint"
        ),
        (F.col("model_id") if "model_id" in cols else F.lit(None).cast("string")).alias(
            "model_id"
        ),
        (
            F.col("model_version") if "model_version" in cols else F.lit(None).cast("string")
        ).alias("model_version"),
        # recognizer outcome channel (reference Models/Document.cs:20-105)
        (
            F.col("recognizer_status")
            if "recognizer_status" in cols
            else F.lit(None).cast("string")
        ).alias("recognizer_status"),
        (
            F.col("recognizer_errors")
            if "recognizer_errors" in cols
            else F.lit(None).cast("array<string>")
        ).alias("recognizer_errors"),
        terminal_count.alias("terminal_error_count"),
        warning_count.alias("warning_error_count"),
        (terminal_count == 0).alias("is_valid"),
        line_items.alias("line_items"),
        all_errors.alias("errors"),
        # measured per-doc extraction wall time (the engine's per-document
        # compute happens in the recognize kernel; the expression-based
        # shred itself adds no per-row Python) — the reference's
        # TimeToShred stopwatch (HorusProcessingEngine.cs:15-16,87-88)
        (
            F.col("time_to_shred_ms")
            if "time_to_shred_ms" in cols
            else F.lit(0.0)
        ).alias("time_to_shred_ms"),
        # run stamps (HorusSql.cs:244-249): emitted unconditionally (NULL
        # when the pipeline didn't provide them) so every shred output —
        # including shred_fast outside run_extraction — matches
        # schema.SHREDDED_DOCUMENT, same as thumbprint/model_id above
        (
            F.col("shredding_utc_datetime")
            if "shredding_utc_datetime" in cols
            else F.lit(None).cast("timestamp")
        ).alias("shredding_utc_datetime"),
        (
            F.col("unique_run_identifier")
            if "unique_run_identifier" in cols
            else F.lit(None).cast("string")
        ).alias("unique_run_identifier"),
        *[F.col(c) for c in carry],
    ]


def _apply_shred(df: DataFrame, exprs: tuple[Column, list[Column]]) -> DataFrame:
    all_errors_expr, select_cols = exprs
    # Stage the error array in its own projection: higher-order functions are
    # CodegenFallback (interpreted), and inlining this tree into the errors
    # column AND both counts would evaluate it three times per row.
    # CollapseProject keeps the split because the alias is non-cheap and
    # referenced more than once.
    return df.withColumn("__all_errors", all_errors_expr).select(*select_cols)


def shred_fast(df: DataFrame, carry: list[str] | None = None, engine=None) -> DataFrame:
    """Shred from pre-parsed raw columns:
    header_raw: struct<order_number,order_date,tax_date,inv,account,
                       net_total,vat_amount,shipping_total,grand_total,
                       post_code : string> (NULL field = element missing)
    lines_raw:  array<struct<drug,qty,unit,vat,disc,taxable,net : string>>
                (already prefix-terminated, max 49 entries).
    engine: engines.EngineSpec or name ('horus' default).
    The expressions are built once per SparkContext for each (engine,
    input columns, carry) and reused by later calls."""
    from horus_spark.engines import HORUS_ENGINE, get_engine

    spec = get_engine(engine) if engine is not None else HORUS_ENGINE
    cols, carry_t = tuple(df.columns), tuple(carry or ())
    exprs = session_memo(
        ("shred_fast", spec, cols, carry_t),
        lambda: _shred_exprs(F.col("header_raw"), F.col("lines_raw"), cols, carry_t, spec),
    )
    return _apply_shred(df, exprs)


def raw_from_fields_exprs() -> tuple[Column, Column]:
    """Build (header_raw, lines_raw) expressions from a fields
    map<string,string> column — the bridge from the reference's dynamic
    recognizer shape to the fast path; encodes the SAME presence semantics
    (key exists, ProcessingEngine.cs:15-35) and prefix termination."""
    fields = F.col("fields")
    keys = F.map_keys(fields)

    def has(key: Column) -> Column:
        return F.array_contains(keys, key)

    def rawk(key: Column) -> Column:
        # NULL <=> key missing OR value null (both are 'is null' in the
        # reference's error channel); presence for the line scan uses has()
        return F.element_at(fields, key)

    header_raw = F.struct(
        rawk(F.lit(C.ORDER_NUMBER)).alias("order_number"),
        rawk(F.lit(C.ORDER_DATE)).alias("order_date"),
        rawk(F.lit(C.TAX_DATE)).alias("tax_date"),
        rawk(F.lit(C.INVOICE_NUMBER)).alias("inv"),
        rawk(F.lit(C.ACCOUNT)).alias("account"),
        rawk(F.lit(C.NET_TOTAL)).alias("net_total"),
        rawk(F.lit(C.VAT_AMOUNT)).alias("vat_amount"),
        rawk(F.lit(C.SHIPPING_TOTAL)).alias("shipping_total"),
        rawk(F.lit(C.GRAND_TOTAL)).alias("grand_total"),
        rawk(F.lit(C.POST_CODE)).alias("post_code"),
    )

    def lk(prefix: str, i: Column) -> Column:
        return F.concat(F.lit(prefix), F.lpad(i.cast("string"), 2, "0"))

    def present(i: Column) -> Column:
        return (
            has(lk(C.UNIT_PRICE_PREFIX, i))
            | has(lk(C.NET_PRICE_PREFIX, i))
            | has(lk(C.LINE_ITEM_PREFIX, i))
        )

    n_lines = F.aggregate(
        F.sequence(F.lit(1), F.lit(C.MAX_DOCUMENT_LINES - 1)),
        F.lit(0),
        lambda acc, i: F.when((acc == i - 1) & present(i), i).otherwise(acc),
    )
    lines_raw = F.when(
        n_lines > 0,
        F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.struct(
                rawk(lk(C.LINE_ITEM_PREFIX, i)).alias("drug"),
                rawk(lk(C.QUANTITY_PREFIX, i)).alias("qty"),
                rawk(lk(C.UNIT_PRICE_PREFIX, i)).alias("unit"),
                rawk(lk(C.VAT_CODE_PREFIX, i)).alias("vat"),
                rawk(lk(C.DISCOUNT_PERCENT_PREFIX, i)).alias("disc"),
                rawk(lk(C.TAXABLE_PREFIX, i)).alias("taxable"),
                rawk(lk(C.NET_PRICE_PREFIX, i)).alias("net"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<drug:string,qty:string,unit:string,vat:string,"
            "disc:string,taxable:string,net:string>>"
        )
    )
    return header_raw, lines_raw


def shred(
    df: DataFrame,
    fields_col: str = "fields",
    carry: list[str] | None = None,
    engine=None,
) -> DataFrame:
    """Shred from a dynamic fields map<string,string> (the reference's
    recognizer shape). Wraps raw_from_fields_exprs + the shared core."""
    from horus_spark.engines import get_engine

    spec = get_engine(engine) if engine is not None else None
    header_raw, lines_raw = raw_from_fields_exprs()
    staged = df.withColumn("__header_raw", header_raw).withColumn("__lines_raw", lines_raw)
    exprs = _shred_exprs(
        F.col("__header_raw"), F.col("__lines_raw"), tuple(staged.columns), tuple(carry or ()), spec
    )
    return _apply_shred(staged, exprs)
