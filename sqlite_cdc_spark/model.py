"""Canonical change-record model (SURVEY.md §1).

The reference engine's one fundamental abstraction is the **Change**: a
row-level mutation event with before/after row images
(``/root/reference/change.go:12-18``). Its persistent form is the
``__cdc_log`` table (``/root/reference/triggers.go:410-419``)::

    id INTEGER PRIMARY KEY,   -- monotonic order key
    timestamp TEXT NOT NULL,  -- 'yyyy-MM-dd HH:mm:ss(.SSS)' UTC
    tablename TEXT NOT NULL,
    operation TEXT NOT NULL,  -- INSERT | UPDATE | DELETE
    before TEXT,              -- JSON row image or NULL
    after TEXT                -- JSON row image or NULL

Spark mapping: the log is a DataFrame with :data:`LOG_SCHEMA`; images are
JSON strings built with ``to_json(struct(...))`` (the reference's 63-column
``json_object`` chunking — ``triggers.go:457-518`` — dissolves because
``struct('*')`` is unbounded); typed access is ``from_json`` with a
per-table schema. All transforms here are pure Column expressions, so they
stay inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sqlident import bq

# --- operations (reference: change.go:20-26) --------------------------------

OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"
OP_UNKNOWN = "UNKNOWN"
OPERATIONS = (OP_INSERT, OP_UPDATE, OP_DELETE)

# --- schemas ----------------------------------------------------------------

#: In-flight change record (reference: change.go:12-18). ``timestamp`` is a
#: native TimestampType (the Go struct holds time.Time); images are JSON text.
CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("tablename", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("before", T.StringType(), True),
        T.StructField("after", T.StringType(), True),
    ]
)

#: Persistent change-log row (reference: triggers.go:410-419): CHANGE_SCHEMA
#: plus the monotonic ``id`` order key.
LOG_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False), *CHANGE_SCHEMA.fields]
)

#: Log-table timestamp text format (reference: triggers.go:438-443 writes
#: ``datetime('now','subsec')`` → millisecond precision).
LOG_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSS"
#: Fallback without subseconds (reference: WithoutSubsecondTime,
#: triggers.go:39-44).
LOG_TS_FORMAT_NOSUBSEC = "yyyy-MM-dd HH:mm:ss"


# --- scalar codecs ----------------------------------------------------------


def decode_operation(op: Column | str) -> Column:
    """Upper-cased log string → closed enum, else ``UNKNOWN``.

    Parity with ``strToOperation`` (``/root/reference/triggers.go:589-599``).
    """
    c = F.upper(F.col(op) if isinstance(op, str) else op)
    return F.when(c.isin(*OPERATIONS), c).otherwise(F.lit(OP_UNKNOWN))


def parse_log_timestamp(ts: Column | str) -> Column:
    """Log text ``'yyyy-MM-dd HH:mm:ss[.SSS]'`` → native timestamp.

    Parity with the Go parse at ``/root/reference/triggers.go:182`` (format
    ``2006-01-02 15:04:05.999999999`` accepts optional fractional seconds):
    try subsecond first, fall back to whole seconds.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.coalesce(
        F.try_to_timestamp(c, F.lit(LOG_TS_FORMAT)),
        F.try_to_timestamp(c, F.lit(LOG_TS_FORMAT_NOSUBSEC)),
    )


def format_log_timestamp(ts: Column | str) -> Column:
    """Native timestamp → log text form (millisecond precision, UTC)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, LOG_TS_FORMAT)


def blob_to_hex(col: Column | str) -> Column:
    """Binary → upper-case hex string, the reference's JSON-safe BLOB encoding
    (``/root/reference/triggers.go:464-469``; SQLite ``hex()`` is upper-case).

    Spark's ``hex`` of binary is already upper-case; ``upper`` is belt and
    braces for string inputs.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.hex(c))


# --- row images --------------------------------------------------------------


def row_image(
    df: DataFrame,
    columns: list[str] | None = None,
    blob_support: bool = False,
) -> Column:
    """Build the JSON row image ``to_json(struct(cols...))``.

    Parity with ``sqlJsonObject`` (``/root/reference/triggers.go:457-518``)
    minus its SQLite workarounds: no 63-column chunking / ``json_patch``
    merging (``struct`` is unbounded) and no 1000-column cap.

    BLOB handling matches the reference (``triggers.go:46-51``): binary
    columns are *skipped* unless ``blob_support``, in which case they are
    hex-encoded text inside the image.
    """
    names = columns if columns is not None else [f.name for f in df.schema.fields]
    by_name = {f.name: f for f in df.schema.fields}
    parts: list[Column] = []
    for n in names:
        field = by_name[n]
        if isinstance(field.dataType, T.BinaryType):
            if blob_support:
                parts.append(blob_to_hex(F.col(bq(n))).alias(n))
            continue
        parts.append(F.col(bq(n)).alias(n))
    return F.to_json(F.struct(*parts))


def image_field(image: Column | str, field: str) -> Column:
    """Extract one field from a JSON row image (dynamic-typing path).

    A name holding ``.`` or ``[`` is read through the bracket path
    ``$['a.b']``, so it names one top-level field and never a nested one;
    every other name keeps ``$.name``. A JSON path has no escape for a
    quote inside brackets, so such a name that also holds a quote, and the
    wildcard ``*``, raise instead of reading the wrong field.
    """
    c = F.col(image) if isinstance(image, str) else image
    if "." not in field and "[" not in field and field != "*":
        return F.get_json_object(c, f"$.{field}")
    if "'" in field or field == "*":
        raise ValueError(f"no JSON path addresses the image field {field!r}")
    return F.get_json_object(c, f"$['{field}']")


# --- presentation -----------------------------------------------------------


def simple_change_line(
    ts: Column | str = "timestamp",
    table: Column | str = "tablename",
    op: Column | str = "operation",
) -> Column:
    """``"<ts>: <table> <OPERATION>"`` — the reference's simplified stdout
    sink line (``/root/reference/change.go:28-30``, ``handlers/stdio.go:18-23``).

    The reference prints RFC3339Nano; we standardize on ISO-8601 with
    millisecond precision, which is the same instant rendering for the
    engine's ms-resolution timestamps.
    """
    tc = F.col(ts) if isinstance(ts, str) else ts
    return F.format_string(
        "%s: %s %s",
        F.date_format(tc, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
        F.col(table) if isinstance(table, str) else table,
        decode_operation(op),
    )


def change_json(df: DataFrame) -> Column:
    """Full JSON serialization of a change record — the reference's debug
    sink (``/root/reference/handlers/debug.go:19-28``)."""
    cols = [f.name for f in CHANGE_SCHEMA.fields if f.name in df.columns]
    return F.to_json(F.struct(*[F.col(c) for c in cols]))
