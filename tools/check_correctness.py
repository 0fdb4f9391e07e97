"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, comparing row count, sorted column names, and an
order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pyarrow as pa

# Spark integral dtypes: a DuckDB oracle column paired with one of these must
# come back as an Arrow integer, NOT decimal128 (HUGEINT — what DuckDB types a
# bare SUM(<integer>) as) or float. The driver's normalizer is type-sensitive
# (HUGEINT -> pandas float64 renders "123.0" vs Spark's "123"), so we flag the
# type mismatch even though str(int) == str(Decimal) would hide it.
_SPARK_INTEGRAL = {"tinyint", "smallint", "int", "bigint", "long"}


def _norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # NO -0.0 normalization: the driver's hasher distinguishes "0.0"
        # from "-0.0" (r10: heaps_law_fit_tokens passed locally, failed the
        # driver).  The local gate must be at least as strict as the driver.
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from apache_beam_challange_spark.session import get_spark

    spark = get_spark("correctness-check")
    # driver tier first (exactly what the driver's gate sees, same order),
    # then the extended tier so local verification still covers everything
    qs, oracles = e.all_queries(), e.all_oracle_sql()
    n_driver = len(e.queries())

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for idx, (name, fn) in enumerate(qs.items()):
        if only and name not in only:
            continue
        if idx == n_driver and not only:
            print("  --- extended tier (not exported to the driver) ---")
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"  {name}: rows-only, {len(srows)} rows  ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append((name, "zero rows (rows-only check)"))
            continue
        tbl = con.execute(oracles[name]).arrow()
        ocols = tbl.schema.names
        orows = [tuple(row[c] for c in ocols) for row in tbl.to_pylist()]
        problems = []
        spark_types = dict(sdf.dtypes)
        for field in tbl.schema:
            st = spark_types.get(field.name)
            if st in _SPARK_INTEGRAL and (
                pa.types.is_decimal(field.type) or pa.types.is_floating(field.type)
            ):
                problems.append(
                    f"type: oracle `{field.name}` is {field.type} but spark is {st}"
                    " — wrap the oracle expr with CAST(... AS BIGINT)"
                )
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show a sample diff
                sset = {tuple(_norm_cell(v) for v in r) for r in
                        (tuple(r[scols.index(c)] for c in sorted(scols)) for r in srows)}
                oset = {tuple(_norm_cell(v) for v in r) for r in
                        (tuple(r[ocols.index(c)] for c in sorted(ocols)) for r in orows)}
                for side, diff in (("spark-only", sset - oset), ("oracle-only", oset - sset)):
                    for row in list(diff)[:3]:
                        problems.append(f"  {side}: {row}")
        status = "OK " if not problems else "FAIL"
        print(f"  {name}: {status} {len(srows)} rows  ({time.time()-t0:.1f}s)")
        for p in problems:
            print(f"      {p}")
        if problems:
            failures.append((name, problems[0]))

    # A name that matched no registered query must fail LOUDLY: the old
    # tally printed `len(only)` as the total, so a typo'd name was shown
    # as passing without ever running (VERDICT r9 "What's wrong").
    unmatched = sorted(set(only) - set(qs)) if only else []
    for name in unmatched:
        print(f"  {name}: FAIL — no such registered query")
        failures.append((name, "no such registered query"))

    print()
    total = len(only) if only else len(qs)
    print(f"{total - len(failures)}/{total} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
