"""arrow-csv-compatible schema inference (SURVEY.md §1.2, §4.3 item 3).

The reference delegates to ``arrow::csv::reader::infer_file_schema``
(`/root/reference/src/main.rs:145-158`): sample ≤N rows (absent N = all
rows, N=0 = skip → all Utf8), regex-classify each column into
{Boolean, Int64, Float64, Date32, Date64, Utf8}, merge conflicts
(Int64+Float64→Float64, anything else→Utf8), mark everything nullable.

Spark's own CSV inference yields different types (Int32 / Decimal /
Timestamp), so for schema-output parity this module re-implements the
arrow-csv lattice as a Spark job: read the sample as all-strings,
unpivot it to one (column position, value) row per cell, and group by
position, bit-OR-ing ONE class expression per cell. The plan holds a
single classifier however wide the CSV is, and every row is classified
on the executors; the merge rule then maps each column's class mask to
a type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Regexes mirroring arrow-csv 32.0.0's inference lattice (SURVEY §1.2).
# Flag FIRST: Python 3.11+ re rejects mid-pattern (?i); Java regex
# accepts both, so this spelling works under rlike AND re.compile.
BOOLEAN_RE = r"(?i)^(true|false)$"
INTEGER_RE = r"^-?(\d+)$"
# Decimal or scientific float literal.
FLOAT_RE = r"^-?(\d+\.\d+|\d+\.|\.\d+|\d+)([eE][-+]?\d+)?$"
DATE32_RE = r"^\d{4}-\d{2}-\d{2}$"
DATE64_RE = r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}$"

# Arrow type-name strings (serde spelling) in lattice order.
ARROW_BOOLEAN = "Boolean"
ARROW_INT64 = "Int64"
ARROW_FLOAT64 = "Float64"
ARROW_DATE32 = "Date32"
ARROW_DATE64 = "Date64"
ARROW_UTF8 = "Utf8"

ARROW_TO_SPARK = {
    ARROW_BOOLEAN: T.BooleanType(),
    ARROW_INT64: T.LongType(),
    ARROW_FLOAT64: T.DoubleType(),
    ARROW_DATE32: T.DateType(),
    # Date64 = epoch-millis datetime → TimestampType (SURVEY §1.4 / §7);
    # session timezone is pinned to UTC for parity.
    ARROW_DATE64: T.TimestampType(),
    ARROW_UTF8: T.StringType(),
}


def _value_class_bit(c: F.Column) -> F.Column:
    """Lattice class bit of one non-empty value: a short-circuiting CASE
    classifies it ONCE, and a column's bit-OR of these reproduces
    arrow-csv's merge rule exactly in :func:`_mask_to_arrow`.

    The CASE tries classes in data-frequency order (int, float, dates,
    bool) instead of lattice order — safe because the only overlapping
    pair of classes is INTEGER ⊂ FLOAT and that priority is kept. Every
    class except FLOAT uses regex-free string predicates (``translate``
    digit-stripping + ``LIKE`` positional wildcards), about 2× cheaper
    than java.util.regex per cell; FLOAT keeps its regex, as the
    optional-exponent grammar has no clean LIKE/translate form. This
    per-cell cost sets a full-pass inference's time on large inputs
    (150 MB CSV, 2 task slots: about 10 s classifying, 1 s parsing).
    Equivalence with the reference regexes is property-tested in
    tests/test_properties.py.
    """
    # ^-?\d+$ : strip one leading '-', then all-digits and non-empty.
    body = F.when(c.startswith("-"), F.substring(c, 2, 2147483647)).otherwise(c)
    is_int = (body != "") & (F.translate(body, "0123456789", "") == "")
    # ^\d{4}-\d{2}-\d{2}$ : LIKE pins length+dash positions, translate
    # pins every other char to a digit.
    is_d32 = c.like("____-__-__") & (F.translate(c, "0123456789", "") == "--")
    is_d64 = (
        c.like("____-__-__ __:__:__") | c.like("____-__-__T__:__:__")
    ) & F.translate(c, "0123456789", "").isin("-- ::", "--T::")
    is_bool = F.lower(c).isin("true", "false")
    return (
        F.when(is_int, 2)
        .when(c.rlike(FLOAT_RE), 4)
        .when(is_d32, 8)
        .when(is_d64, 16)
        .when(is_bool, 1)
        .otherwise(32)
    )


_BOOL, _INT, _FLOAT, _D32, _D64 = 1, 2, 4, 8, 16


def _mask_to_arrow(mask: int) -> str:
    """arrow-csv merge rule over the set of observed value classes:
    single class → that type; {Int64,Float64} → Float64; anything else
    (incl. all-null / any-Utf8) → Utf8."""
    if mask == _BOOL:
        return ARROW_BOOLEAN
    if mask == _INT:
        return ARROW_INT64
    if mask in (_FLOAT, _INT | _FLOAT):
        return ARROW_FLOAT64
    if mask == _D32:
        return ARROW_DATE32
    if mask == _D64:
        return ARROW_DATE64
    return ARROW_UTF8


def infer_arrow_types(
    raw: DataFrame, max_read_records: int | None = None
) -> dict[str, str]:
    """Infer the arrow type name per column of an all-strings DataFrame.

    ``max_read_records`` caps the sample (None = all rows, mirroring the
    reference's absent flag, main.rs:60-62); 0 = no inference → Utf8.
    The whole classification is ONE distributed aggregate — no collect of
    data rows, so it scales to any input size.
    """
    if max_read_records == 0 or not raw.columns:
        return {c: ARROW_UTF8 for c in raw.columns}
    sample = raw.limit(max_read_records) if max_read_records else raw
    # A multiLine CSV read is a single split, which would serialize the
    # regex classification onto one core. When the sample arrives in
    # fewer partitions than we have cores, one round-robin repartition
    # (a pass over the string sample) lets the classify aggregate run
    # on every core.
    para = sample.sparkSession.sparkContext.defaultParallelism
    if (
        max_read_records is None or max_read_records > 65536
    ) and sample.rdd.getNumPartitions() < para:
        sample = sample.repartition(para)
    # Positional names: a raw header such as `user.id` or one holding a
    # backtick never has to be quoted as a column reference.
    keys = [f"c{i}" for i in range(len(raw.columns))]
    v = F.col("v")
    masks = dict(
        sample.toDF(*keys)
        .unpivot([], keys, "k", "v")
        .where(v.isNotNull() & (v != ""))
        .groupBy("k")
        .agg(F.bit_or(_value_class_bit(v)).alias("mask"))
        .collect()
    )
    # A column with no non-empty value has no group: mask 0 → Utf8.
    return {c: _mask_to_arrow(masks.get(k, 0)) for c, k in zip(raw.columns, keys)}


def infer_schema(
    raw: DataFrame, max_read_records: int | None = None
) -> T.StructType:
    """Arrow-lattice inference → Spark StructType (all fields nullable,
    as arrow-csv marks every inferred field nullable)."""
    arrow_types = infer_arrow_types(raw, max_read_records)
    return T.StructType(
        [T.StructField(c, ARROW_TO_SPARK[a], True) for c, a in arrow_types.items()]
    )
