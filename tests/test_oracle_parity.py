"""Per-query Spark-vs-DuckDB parity — the local mirror of the driver's
t2 correctness gate, run at sf0.01 (same scale the driver uses).

Every registered query with an oracle must match exactly; oracle-less
queries (approximate ops) must at least run and return a stable schema.
"""

from __future__ import annotations

import os
import warnings

import pytest

from cascading_hbase_spark.queries import ORACLES, QUERIES
from tests.parity import compare, duck_connection

SF_DIR = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def parity_problems(spark):
    """All pairs' parity verdicts, computed ONCE with a small driver
    thread pool: the per-pair cost is dominated by driver planning and
    job-launch latency, not compute, so overlapping jobs (guide §2.6 —
    the scheduler runs concurrent jobs fine) cuts the wall time ~4x
    while keeping the SAME full coverage (this module was ~40% of the
    suite's 41-minute serial wall, which overran the driver's verify
    window — VERDICT r13 item 2).  Each worker gets its own DuckDB
    connection (connections are not thread-safe); any exception is
    recorded as that pair's problem so the named test still fails with
    the message."""
    from concurrent.futures import ThreadPoolExecutor

    def one(name: str) -> list[str]:
        con = duck_connection(SF_DIR)
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            ddf = con.execute(ORACLES[name]).df()
            return compare(sdf, ddf)
        except Exception as exc:  # surface as the pair's failure
            return [f"exception: {exc!r}"]
        finally:
            con.close()

    with ThreadPoolExecutor(max_workers=6) as pool:
        names = sorted(ORACLES)
        results = dict(zip(names, pool.map(one, names)))
    # A pair that fails under the CONCURRENT pass is re-checked once
    # serially and the serial verdict wins: the driver's own protocol
    # runs pairs serially, so a concurrency-only artifact of this
    # harness (observed ~1/300: a transient executor/Arrow hiccup
    # under 6 simultaneous queries) must not abort the -x gate.  A
    # genuinely wrong pair fails both passes and is reported with
    # both messages.  A concurrent failure the serial retry clears is
    # still reported (pytest's warnings summary prints it on every
    # run), so intermittent nondeterminism stays visible.
    for name, problems in list(results.items()):
        if problems:
            serial = one(name)
            if not serial:
                warnings.warn(
                    f"{name}: concurrent-pass failure cleared by the "
                    f"serial retry: " + "; ".join(problems),
                    stacklevel=1,
                )
            results[name] = (
                [f"(confirmed serially) {p}" for p in serial]
                if serial
                else []
            )
    return results


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, parity_problems):
    problems = parity_problems[name]
    assert not problems, f"{name}: " + "; ".join(problems)


# NOTE: since r09 the registry is fully oracled, so this parameter set
# is EMPTY and pytest reports one structural skip ("got empty parameter
# set") — that skip is the 270/270-oracled milestone, not a gap.  The
# test stays as the guard that would catch a future oracle-less
# registration.
@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_parity_flags_int_float_dtype_drift(spark):
    """r10 regression (atomic_maintenance_chain): an integral-valued
    DOUBLE against a BIGINT oracle must FAIL the rehearsal — the
    driver's value-hash distinguishes ``123400.0`` from ``123400``,
    and the old checker silently bridged the pair to float64, which is
    exactly how the red row rehearsed green.  The bridge now survives
    only behind an explicit per-column whitelist."""
    import pandas as pd

    sdf = spark.createDataFrame([(1, 123400.0)], "k bigint, v double")
    ddf = pd.DataFrame({"k": [1], "v": [123400]})
    problems = compare(sdf, ddf)
    assert problems and "dtype drift" in problems[0]
    # the whitelist restores the bridge deliberately, and the values
    # then compare equal as float64
    assert compare(sdf, ddf, allow_int_float=frozenset({"v"})) == []
