"""Local mirror of the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB over the same
parquet tables, compare row count + column names + order-insensitive
value hash.  Usage: python scripts/check_queries.py [sf_dir] [name...]
The last line is the summary ``N ok, M FAIL of T``; the exit status is 1
when any entry fails.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql, queries  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted(
        tuple(_norm(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _norm(v):
    if v is None:
        return (0, "")  # sortable against the (1, repr) non-null form
    if isinstance(v, float):
        return (1, repr(round(v, 6)))
    if isinstance(v, list):
        return (1, repr(tuple(_norm(x) for x in v)))
    return (1, repr(v))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        # same sizing as tests/conftest.py: the PySpark default (1g)
        # cannot even BUILD a sub-threshold broadcast once a long
        # session accumulates cached state (seen in the sf1 sweep)
        .config("spark.driver.memory", "4g")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .appName("check-queries")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from occular_ocr_spark.queries import release_persists

    qs, os_ = queries(), oracle_sql()
    checked = failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        finally:
            # drop per-query tracked caches so a 123-entry session
            # doesn't accumulate blocks (session-lifetime memos survive)
            release_persists()
        sql = os_.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = value_hash(srows, scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append(f"valuehash spark={sh} duck={dh}")
                # show a sample diff
                so = sorted(
                    tuple(_norm(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                do = sorted(
                    tuple(_norm(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i]))
                    for r in drows
                )
                for a, b in zip(so, do):
                    if a != b:
                        problems.append(f"  first diff: spark={a!r} duck={b!r}")
                        break
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    spark.stop()
    print(f"{checked - failures} ok, {failures} FAIL of {checked}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
