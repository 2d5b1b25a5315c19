#!/usr/bin/env python
"""Driver-protocol parity for SPECIFIC pairs at one or more SFs:

    python tools/parity_pairs.py q21_suppliers_kept_waiting,cms_frequency_contract [sf_dir ...]

Defaults to all three testdata SFs.  Vanilla session, DuckDB oracle,
same compare as tests/test_oracle_parity.py (which runs every pair at
one SF: ``SPARK_GRAFT_T2_DIR=<sf_dir> pytest tests/test_oracle_parity.py``).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1].split(",")
    sfs = sys.argv[2:] or [
        "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"
    ]
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from tests.parity import compare, duck_connection

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for sf in sfs:
        con = duck_connection(sf)
        for name in names:
            t0 = time.time()
            try:
                sdf = qs[name](spark, sf)
                if name in osql:
                    problems = compare(sdf, con.execute(osql[name]).fetchdf())
                else:
                    problems = [] if sdf.count() >= 0 else ["negative count"]
            except Exception as exc:
                problems = [f"EXCEPTION: {exc}"]
            status = "PASS" if not problems else "FAIL"
            if problems:
                failures.append((sf, name, problems))
            print(f"{status} {os.path.basename(sf)} {name} ({time.time()-t0:.1f}s)", flush=True)
    for sf, name, problems in failures:
        print(f"FAIL {sf} {name}: {problems}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
