"""Isolated timing and result hash for bench gates vs their DuckDB oracles.

Usage: python tools/gate_bench.py [gate ...]   (default: the three KN gates)

Runs on local[$SPARK_GRAFT_CPUS] (default: the cores this process may
use) with as many shuffle partitions, over $SPARK_GRAFT_SF_DIR.  Each
line gives the best-of-3 Spark and DuckDB times, then ``rows=`` and
``sha=`` (sha256 of the rows canonicalized as tools/oracle_check.py
does: columns by name, floats to 10 significant digits, rows sorted),
the cpus and the SF directory.  Run it in two checkouts to check that a
change keeps a gate's output hash for hash.
"""
from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GATES = sys.argv[1:] or ["op_kn_nll", "op_kn3_nll", "op_kn3_score"]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or str(
    len(os.sched_getaffinity(0))
)


def main() -> None:
    from aqueducts_spark.session import session_builder
    from oracle_check import canon

    spark = (
        session_builder("gate-bench", master=f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    entrymod._views(spark, SF_DIR)
    spark.table("region").count()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {CPUS}")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    for name in GATES:
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.monotonic() - t0)
        obest = float("inf")
        if name in oracles:
            for _ in range(3):
                t0 = time.monotonic()
                con.execute(oracles[name]).fetchall()
                obest = min(obest, time.monotonic() - t0)
        ratio = best / obest if obest > 0 else float("nan")
        rows = canon(df.collect(), df.columns)
        sha = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
        print(
            f"{name}: spark={best:.2f}s duck={obest:.2f}s "
            f"ratio={ratio:.1f}x rows={len(rows)} sha={sha} "
            f"cpus={CPUS} sf={SF_DIR}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
