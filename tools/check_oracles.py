"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry and its oracle_sql() on the same sf dir,
compare row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values normalised to strings)."""

from __future__ import annotations

import decimal
import math
import sys
from pathlib import Path

import duckdb

# this checkout's engine and queries, wherever it is run from
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from splink_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    # Decimal cells (DuckDB HUGEINT sums surfacing through Arrow as
    # decimal128) are deliberately rendered as floats so they hash
    # DIFFERENTLY from int64 — reproducing the driver-side mismatch that
    # fetchall() (which collapses HUGEINT to Python int) could not see.
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return repr(v)
    return str(v)


def table_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None):
    spark = get_spark(cores=8)
    from splink_spark.functions.udfs import register_udfs

    register_udfs(spark)
    con = duckdb.connect()
    for t in entrymod.queries().keys():
        pass
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{sf_dir}/{name}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and only not in name:
            continue
        try:
            df = fn(spark, sf_dir)
            rows = df.collect()
            cols = df.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(rows)} rows, cols={cols}")
            continue
        try:
            # Normalise through Arrow (what the driver does), NOT
            # fetchall(): fetchall collapses HUGEINT to Python int and
            # hides decimal128 surfaces.
            tbl = con.execute(oracles[name]).arrow()
            ocols = tbl.schema.names
            ocolumns = [c.to_pylist() for c in tbl.columns]
            orows = list(zip(*ocolumns)) if ocolumns else []
        except Exception as e:
            print(f"FAIL {name}: oracle error {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} vs {len(orows)}")
        if not problems:
            d1 = table_digest(cols, [[r[c] for c in cols] for r in rows])
            d2 = table_digest(ocols, orows)
            if d1 != d2:
                problems.append(f"value-hash {d1} vs {d2}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"OK   {name}: {len(rows)} rows")
    print(f"\n{failures} failures")
    return failures


if __name__ == "__main__":
    # usage: check_oracles.py [sf_dir] [name_filter]
    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    only = args[1] if len(args) > 1 else None
    if only is None and args and not sf.startswith("/"):
        # single non-path arg = a name filter on the default sf dir
        sf, only = "/root/testdata/sf0.01", sf
    sys.exit(1 if main(sf, only=only) else 0)
