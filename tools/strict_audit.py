"""Byte-exact + type-exact contract audit (the driver-hash simulator).

The per-round driver hashes TYPED values byte-exactly, which is stricter
than tools/driver_sim.py's round-to-9 repr compare: a value-equal pair can
still hash-mismatch when (a) DuckDB returns HUGEINT/int128 for sum(BIGINT)
while Spark returns BIGINT, or (b) both engines round(,9) a double and land
one ULP apart on a halfway decimal. This tool reproduces that strictness
locally:

  * type check  — Spark schema type vs the DuckDB result's Arrow type,
    exact (LongType<->int64, DoubleType<->float64, ...). Catches HUGEINT.
  * value check — floats compared by IEEE-754 bit pattern
    (struct.pack('<d')), everything else by repr. No tolerance, no
    re-rounding.

Usage: python tools/strict_audit.py [sf_dir [name,name,...]]
Exit 0 = every checked query is strictly identical.
"""

from __future__ import annotations

import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from searchengine_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Spark simpleString -> acceptable DuckDB Arrow type names. Integer
# WIDTH differences are driver-tolerated (r04 evidence: exact_substr /
# gopher_rules / window_quota were driver-green with spark=int vs
# duck=int64) because both sides land as Python ints; decimal128(38,0)
# i.e. HUGEINT is NOT tolerated (r04 evidence: salt_balance / novelty /
# degree_tail were driver-red on exactly their sum() columns) because
# pandas renders it as decimal.Decimal objects.
_INTS = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32"}
_TYPE_MAP = {
    "bigint": _INTS,
    "int": _INTS,
    "smallint": _INTS,
    "tinyint": _INTS,
    "double": {"double"},
    "float": {"float"},
    "string": {"string", "large_string", "string_view"},
    "boolean": {"bool"},
    "date": {"date32[day]"},
    "binary": {"binary", "large_binary"},
}


def _canon_val(v):
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + struct.pack("<d", v).hex()
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, list):
        return "[" + ",".join(_canon_val(x) for x in v) + "]"
    return type(v).__name__ + ":" + repr(v)


def _norm(rows, cols, getter):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("|".join(_canon_val(getter(r, i)) for i in order))
    return sorted(out)


def _arrow_rows(tbl, duck_types) -> list[tuple]:
    """Rows of a DuckDB Arrow result with the Python values fetchall()
    gives: Arrow carries HUGEINT as decimal128(38,0), fetchall as int."""
    cols = []
    for col, t in zip(tbl.columns, duck_types):
        vals = col.to_pylist()
        if str(t) == "HUGEINT":
            vals = [None if v is None else int(v) for v in vals]
        cols.append(vals)
    return list(zip(*cols))


def _spark_type_ok(spark_t: str, arrow_t: str) -> bool:
    if spark_t.startswith("timestamp"):
        return arrow_t.startswith("timestamp")
    if spark_t.startswith("array<"):
        return arrow_t.startswith(("list", "large_list"))
    if spark_t.startswith("decimal"):
        return arrow_t.startswith("decimal")
    allowed = _TYPE_MAP.get(spark_t)
    return allowed is not None and arrow_t in allowed


def run_audit(spark, sf_dir, only=None, log=print):
    """Run the strict contract audit; returns (n_checked, fails).

    Reused verbatim by tests/test_contract_strict.py so float/typing
    drift can never reach a driver red without failing CI first."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if only is not None:
        missing = set(only) - set(qs)
        if missing:
            raise KeyError(f"unknown query names: {sorted(missing)}")
        qs = {k: v for k, v in qs.items() if k in only}

    fails: list[str] = []
    n_checked = 0
    for name in sorted(qs):
        if name not in oracles:
            continue
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema}
            srows = sdf.collect()
            rel = con.sql(oracles[name])
            tbl = rel.arrow()
            ocols = list(tbl.column_names)
            otypes = {c: str(tbl.schema.field(c).type) for c in ocols}
            orows = _arrow_rows(tbl, rel.types)
        except Exception as e:  # noqa: BLE001
            log(f"{name:24s} ERROR {type(e).__name__}: {e}")
            fails.append(name)
            continue
        n_checked += 1

        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        else:
            for c in scols:
                if not _spark_type_ok(stypes[c], otypes[c]):
                    problems.append(
                        f"type[{c}] spark={stypes[c]} duck={otypes[c]}"
                    )
        a = _norm(srows, scols, lambda r, i: r[i])
        b = _norm(orows, ocols, lambda r, i: r[i])
        if a != b:
            sa, sb = set(a), set(b)
            d1 = sorted(sa - sb)[:2]
            d2 = sorted(sb - sa)[:2]
            problems.append(f"values spark-only={d1} duck-only={d2}")
        status = "STRICT-OK" if not problems else "MISMATCH"
        log(f"{name:24s} {status} rows={len(a)}/{len(b)}")
        for p in problems:
            log(f"    {p}")
        if problems:
            fails.append(name)
    return n_checked, fails


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_spark(
        "strict-audit", master="local[8]", shuffle_partitions=16
    )
    try:
        n_checked, fails = run_audit(spark, sf_dir, only=only)
    except KeyError as e:
        print(e)
        return 2
    finally:
        spark.stop()
    print(f"\nchecked={n_checked} fails={len(fails)}")
    if fails:
        print("FAILED:", fails)
        return 1
    print("ALL STRICT-OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
