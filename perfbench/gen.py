"""Seeded input generators for the benchmark.

Both generators are pure numpy/pyarrow and deterministic: the same seed
gives byte-identical files. The program under test only ever sees the
files written here.

Run as a script to generate one workload's inputs and expected results
in a child process, so neither shows in the benchmark's peak RSS::

    python3 perfbench/gen.py csv  OUT.csv  SEED ROWS
    python3 perfbench/gen.py tables OUT_DIR SEED SF
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

# Converter input: a quote-free, lineitem-shaped CSV. Every class of
# the arrow-csv inference lattice appears at least once:
# column -> (arrow lattice class, DuckDB type used to re-read the CSV).
CSV_COLUMNS = {
    "l_orderkey": ("Int64", "BIGINT"),
    "l_partkey": ("Int64", "BIGINT"),
    "l_suppkey": ("Int64", "BIGINT"),
    "l_linenumber": ("Int64", "BIGINT"),
    # integral and fractional literals mixed: Int64+Float64 -> Float64
    "l_quantity": ("Float64", "DOUBLE"),
    "l_extendedprice": ("Float64", "DOUBLE"),
    "l_discount": ("Float64", "DOUBLE"),
    "l_tax": ("Float64", "DOUBLE"),  # ~1% empty cells -> NULL
    "l_returnflag": ("Utf8", "VARCHAR"),
    "l_linestatus": ("Utf8", "VARCHAR"),
    "l_shipdate": ("Date32", "DATE"),
    "l_commitdate": ("Date32", "DATE"),
    "l_receiptdate": ("Date32", "DATE"),
    "l_shipinstruct": ("Utf8", "VARCHAR"),
    "l_shipmode": ("Utf8", "VARCHAR"),
    "l_comment": ("Utf8", "VARCHAR"),  # ~1% empty cells -> NULL
    "l_rush": ("Boolean", "BOOLEAN"),
    "l_ship_ts": ("Date64", "TIMESTAMP"),
}

_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
# 31 tokens, the documents-table vocabulary (also used for CSV comments)
_WORDS = (
    "a the scan column window order sort part agg value line key join merge "
    "query group fast slow small big table hash row data batch filter stream "
    "spark vector customer index"
).split()


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def write_csv(path: str, seed: int, rows: int) -> None:
    """Write ``rows`` lineitem-shaped CSV records (plus a header)."""
    rng = np.random.default_rng(seed)
    n = rows
    orderkey = np.sort(rng.integers(0, max(1, n // 4), n))
    partkey = rng.integers(0, max(1, n // 30), n)
    suppkey = rng.integers(0, max(1, n // 600), n)
    linenumber = rng.integers(1, 8, n)
    qty2 = rng.integers(2, 101, n)  # quantity in halves: 1.0 .. 50.0
    qty = [str(q // 2) if q % 2 == 0 else f"{q / 2:.1f}" for q in qty2.tolist()]
    price = (qty2 / 2) * (900 + rng.integers(0, 12000, n) / 10)
    disc = rng.integers(0, 11, n) / 100
    tax = rng.integers(0, 9, n) / 100
    tax_txt = [f"{t:.2f}" for t in tax.tolist()]
    for i in np.flatnonzero(rng.random(n) < 0.01).tolist():
        tax_txt[i] = ""
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2500, n)
    commit = ship + rng.integers(-30, 31, n)
    receipt = ship + rng.integers(1, 31, n)
    ts = ship.astype("datetime64[s]") + rng.integers(0, 86400, n)
    ts_txt = [s.replace("T", " ") for s in ts.astype(str).tolist()]
    words = _pick(rng, _WORDS, n * 4).reshape(n, 4)
    comment = [" ".join(w) for w in words.tolist()]
    for i in np.flatnonzero(rng.random(n) < 0.01).tolist():
        comment[i] = ""
    cols = [
        orderkey.tolist(), partkey.tolist(), suppkey.tolist(), linenumber.tolist(),
        qty, [f"{p:.2f}" for p in price.tolist()], [f"{d:.2f}" for d in disc.tolist()],
        tax_txt, _pick(rng, ["A", "N", "R"], n).tolist(), _pick(rng, ["F", "O"], n).tolist(),
        ship.astype(str).tolist(), commit.astype(str).tolist(), receipt.astype(str).tolist(),
        _pick(rng, _INSTRUCT, n).tolist(), _pick(rng, _MODES, n).tolist(), comment,
        np.where(rng.random(n) < 0.3, "true", "false").tolist(), ts_txt,
    ]
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write(",".join(CSV_COLUMNS) + "\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in zip(*cols))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the TPC-H-shaped tables plus ``documents`` and ``embeddings``
    the registry queries read, one parquet file per table, with the
    column names and types the package's table loader expects. Sizes
    follow TPC-H ratios (lineitem = 6M x sf rows); documents and
    embeddings are 500 rows at every sf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def put(name: str, cols: dict, types: dict) -> None:
        t = pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {"r_regionkey": np.arange(5),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s})
    put("nation", {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25) % 5},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    put("customer", {
        "c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust), "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s})
    put("supplier", {
        "s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp), "s_acctbal": money(-999.99, 9999.99, n_supp)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    retail = np.round(900 + (np.arange(n_part) % 12000) * 0.1, 1)
    put("part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, ["cold", "small", "large", "blue", "red", "green", "tiny", "big"], n_part),
            _pick(rng, ["widget", "bolt", "rod", "gear", "nut", "pipe", "valve", "spring"],
                  n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": _pick(rng, ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"],
                        n_part),
        "p_size": rng.integers(1, 51, n_part), "p_retailprice": retail},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64})
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord), "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": pa.timestamp("us"), "o_orderpriority": s})
    l_ord = rng.integers(0, n_ord, n_li)
    l_part = rng.integers(0, n_part, n_li)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": l_ord, "l_partkey": l_part, "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li), "l_quantity": l_qty,
        "l_extendedprice": np.round(l_qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100, "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": (odate[l_ord] + rng.integers(1, 122, n_li)).astype("datetime64[us]")},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": pa.timestamp("us")})
    n_doc = 500
    docs = [list(_pick(rng, _WORDS, k)) for k in rng.integers(10, 100, n_doc).tolist()]
    # plant near-duplicates: ~8% of documents copy an earlier one with
    # one or two token substitutions, so the dedup operators find pairs
    for i in np.flatnonzero(rng.random(n_doc) < 0.08).tolist():
        if i == 0:
            continue
        dup = list(docs[int(rng.integers(0, i))])
        for pos in rng.integers(0, len(dup), int(rng.integers(1, 3))).tolist():
            dup[pos] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        docs[i] = dup
    text = [" ".join(d) for d in docs]
    put("documents", {
        "doc_id": np.arange(n_doc), "text": text,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in rng.permutation(n_doc).tolist()],
        "n_chars": [len(t) for t in text]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {"vec_id": np.arange(n_doc), "embedding": list(emb),
                       "label": rng.integers(0, 10, n_doc)},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})


def main(argv: list[str]) -> None:
    """Write one workload's inputs, then its expected results next to
    them (see ``checks.expected_path``)."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    import checks

    kind, out, seed, size = argv
    if kind == "csv":
        write_csv(out, int(seed), int(size))
        expected = {"csv_checksum": checks.csv_checksum(out)}
    elif kind == "tables":
        from csv2parquet_spark.queries import REGISTRY
        from workloads import QUERY_KEYS

        write_tables(out, int(seed), float(size))
        expected = checks.oracle_digests(out, {k: REGISTRY[k].oracle for k in QUERY_KEYS})
    else:
        raise SystemExit(f"unknown input kind {kind!r}")
    with open(checks.expected_path(out), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    main(sys.argv[1:])
