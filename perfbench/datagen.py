"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run is written here, from
``--seed`` alone, so the same seed always gives byte-identical inputs:

- the star-schema / stream / LLM-corpus parquet tables the query ops
  read (same table names, column names and physical types as the
  engine's fixtures: ``region nation customer supplier part orders
  lineitem events documents embeddings``, one parquet file each, one
  row group each);
- the ``etl_convert`` inputs: a CSV with mixed types and some nulls,
  and an ``.xlsx`` workbook written with the standard library only
  (zip + XML, no Excel engine), so converting it goes through
  ``sources.xlsx_lite``.

Row counts follow TPC-H ratios at scale factor ``sf`` (lineitem ≈ 6M ×
sf). Value distributions mirror the fixtures: uniform keys, 2-decimal
money, midnight order dates in 1995-2001, event times over 30 days of
2024, a 31-word corpus vocabulary where ~5% of documents are near-copies
of an earlier one (text + " dup"), unit-norm 64-d float embeddings.

``run.py`` runs this file in a child process, so neither its memory nor
its imports are counted in the benchmark process. Run it standalone to
inspect the inputs of one workload; it writes ``manifest.json`` (row
counts, byte sizes, paths) beside them::

    python3 perfbench/datagen.py --seed 1 --out .perfbench/inputs --workload etl_convert
"""

from __future__ import annotations

import argparse
import json
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["cold", "small", "large", "red", "new", "hot", "old", "blue"]
NOUN = ["widget", "bolt", "anvil", "ring", "rod", "plate", "gear", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
CATEGORIES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

DAY_US = 86_400_000_000

# Input sizes of the benchmark.
TABLES_SF = 0.1  # lineitem 600k rows, orders 150k, events 100k, documents 5k
CSV_ROWS = 100_000
XLSX_ROWS = 7_000


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def star_tables(sf: float, rng) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    odate = _days("1995-01-01", 2404, rng, n_ord)  # through 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    okey = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    return out


def event_table(sf: float, rng) -> pa.Table:
    n = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    # increasing event time over 30 days, event_id order == time order
    gaps = rng.exponential(1.0, n)
    ts_us = np.cumsum(gaps) / gaps.sum() * (30 * DAY_US - 60_000_000)
    ts = np.datetime64("2024-01-01", "us") + ts_us.astype(np.int64).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(np.minimum(rng.exponential(60.0, n), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def corpus_tables(sf: float, rng) -> dict[str, pa.Table]:
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": np.array([f"src{i}" for i in range(20)])[
                rng.integers(0, 20, n_docs)
            ],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_tables(out_dir: str, seed: int) -> dict:
    """Write all ten tables at ``TABLES_SF``; returns ``{table: {rows, bytes}}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(TABLES_SF, rng)
    tables["events"] = event_table(TABLES_SF, rng)
    tables.update(corpus_tables(TABLES_SF, rng))
    info = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(t, path)
        info[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return info


def etl_frame(rows: int, rng) -> pa.Table:
    """Mixed-type rows with nulls: int, string, nullable string,
    nullable double, nullable int, bool, date and a free-text column
    whose values sometimes carry commas (quoted in the CSV)."""
    def nullable(arr, frac):
        mask = rng.random(rows) < frac
        return pa.array(arr, mask=mask)

    notes = np.array(
        [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 4)) for _ in range(64)]
        + ["value, with comma", "a, b, c"]
    )
    return pa.table(
        {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "customer": [f"cust_{i}" for i in rng.integers(0, 50_000, rows)],
            "category": nullable(np.array(CATEGORIES)[rng.integers(0, 8, rows)], 0.03),
            "amount": nullable(_money(rng, -500, 5000, rows), 0.05),
            "quantity": nullable(rng.integers(1, 1000, rows), 0.02),
            "active": rng.random(rows) < 0.7,
            "created": pa.array(_days("2020-01-01", 1500, rng, rows), pa.timestamp("us"))
            .cast(pa.date32()),
            "note": notes[rng.integers(0, len(notes), rows)],
        }
    )


def write_csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path)


_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WB = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _cell(ref: str, v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'


def write_xlsx(table: pa.Table, path: str) -> None:
    """One-sheet workbook: header row of inline strings, then typed
    cells (numbers, booleans, inline strings; dates as ISO strings);
    a null is an absent cell."""
    cols = table.column_names
    letters = [_col_letter(i) for i in range(len(cols))]
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>",
        '<row r="1">'
        + "".join(_cell(f"{c}1", n) for c, n in zip(letters, cols))
        + "</row>",
    ]
    pycols = [
        [None if v is None else (v.isoformat() if hasattr(v, "isoformat") else v)
         for v in table.column(n).to_pylist()]
        for n in cols
    ]
    for r, row in enumerate(zip(*pycols), start=2):
        parts.append(
            f'<row r="{r}">'
            + "".join(_cell(f"{c}{r}", v) for c, v in zip(letters, row))
            + "</row>"
        )
    parts.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("xl/workbook.xml", _WB)
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))


def write_etl_inputs(out_dir: str, seed: int) -> dict:
    """Write ``input.csv`` and ``input.xlsx``; returns
    ``{fmt: {path, rows, bytes, null_amount}}``."""
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for fmt, rows, writer in (
        ("csv", CSV_ROWS, write_csv),
        ("xlsx", XLSX_ROWS, write_xlsx),
    ):
        path = os.path.join(out_dir, f"input.{fmt}")
        table = etl_frame(rows, rng)
        writer(table, path)
        info[fmt] = {
            "path": path,
            "rows": rows,
            "bytes": os.path.getsize(path),
            "null_amount": table.column("amount").null_count,
        }
    return info


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True, choices=("etl_convert", "query_mix"))
    a = ap.parse_args()
    if a.workload == "query_mix":
        info = {"tables": write_tables(os.path.join(a.out, "tables"), a.seed)}
    else:
        info = {"etl": write_etl_inputs(os.path.join(a.out, "etl"), a.seed)}
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1)


if __name__ == "__main__":
    main()
