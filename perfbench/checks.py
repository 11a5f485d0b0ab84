"""Correctness checks run by the benchmark after (never inside) a timed
operation. Every mismatch is returned as a message; the caller counts
it as a failed operation."""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from gen import CSV_COLUMNS
from tests.oracle_compare import _rows

# pyarrow type predicate the converter's output must satisfy, per arrow
# lattice class of the generated column (Date64 is written as a Spark
# timestamp, so any timestamp unit is accepted).
_EXPECTED = {
    "Int64": pa.types.is_int64,
    "Float64": pa.types.is_float64,
    "Date32": pa.types.is_date32,
    "Date64": pa.types.is_timestamp,
    "Boolean": pa.types.is_boolean,
    "Utf8": pa.types.is_string,
}


def output_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True))
    return [path]


def check_footers(path: str, rows: int, codec: str, created_by: str | None) -> list[str]:
    """Metadata-only check of one conversion's output: schema, row count,
    codec of every column chunk and (when requested) created_by."""
    problems = []
    files = output_files(path)
    if not files:
        return [f"no parquet output under {path}"]
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total += md.num_rows
        schema = md.schema.to_arrow_schema()
        if schema.names != list(CSV_COLUMNS):
            problems.append(f"{f}: columns {schema.names}")
        for name, (cls, _) in CSV_COLUMNS.items():
            if name in schema.names and not _EXPECTED[cls](schema.field(name).type):
                problems.append(f"{f}: {name} is {schema.field(name).type}, expected {cls}")
        codecs = {md.row_group(g).column(c).compression
                  for g in range(md.num_row_groups) for c in range(md.num_columns)}
        if codecs and codecs != {codec}:
            problems.append(f"{f}: codecs {sorted(codecs)}, expected {codec}")
        if created_by is not None and md.created_by != created_by:
            problems.append(f"{f}: created_by {md.created_by!r}")
    if total != rows:
        problems.append(f"row count {total}, expected {rows}")
    return problems


def expected_path(out: str) -> str:
    """Where the generator leaves the expected results of ``out``."""
    return os.path.join(out, "expected.json") if os.path.isdir(out) else out + ".expected.json"


def _row_checksum(con, relation: str) -> list[int]:
    """[row count, order-insensitive sum of row hashes] of ``relation``,
    with every column cast to the generator's DuckDB type."""
    cols = ", ".join(f"CAST({c} AS {t})" for c, (_, t) in CSV_COLUMNS.items())
    n, s = con.execute(
        f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}").fetchone()
    return [int(n), int(s or 0)]


def csv_checksum(csv_path: str) -> list[int]:
    """DuckDB's own parse of the generated CSV, as a row checksum."""
    import duckdb

    types = ", ".join(f"'{c}': '{t}'" for c, (_, t) in CSV_COLUMNS.items())
    return _row_checksum(duckdb.connect(), (
        f"read_csv('{csv_path}', header=true, delim=',', quote='', escape='', "
        f"columns={{{types}}})"))


def check_content(path: str, expected: dict) -> list[str]:
    """Order-insensitive content checksum of the Parquet output, read
    back with pyarrow, against DuckDB's checksum of the source CSV."""
    import duckdb

    con = duckdb.connect()
    con.register("out", pa.concat_tables(pq.read_table(f) for f in output_files(path)))
    got = _row_checksum(con, "out")
    if got != expected["csv_checksum"]:
        return [f"content checksum (rows, hash) {got} != CSV's {expected['csv_checksum']}"]
    return []


def frame_digest(pdf) -> str:
    """Digest of a result frame, canonicalized by the repository's
    DuckDB-oracle compare: columns sorted by name, cells normalized and
    rows sorted, so row order never matters."""
    return hashlib.sha256(repr((sorted(pdf.columns), _rows(pdf))).encode()).hexdigest()


def oracle_digests(data_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    """Digest of each DuckDB oracle result over the generated tables."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return {k: frame_digest(con.execute(sql).fetchdf()) for k, sql in sqls.items()}
