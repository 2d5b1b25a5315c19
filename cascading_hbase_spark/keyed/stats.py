"""Persisted column statistics for keyed tables — the ANALYZE TABLE
story.  The reference delegates statistics entirely to HBase's region
metadata (split points are the only stats the 629-LoC connector ever
consults, TableInputFormatWrap.java:46-66); an engine that plans its
own skew handling, salting factors, and broadcast decisions needs real
column stats, computed once and persisted where every later planner
call can read them without re-scanning 100 TB.

``analyze_keyed`` computes, in ONE full-scan aggregate job (map-side
partial aggregation; no per-column passes):

- ``n_nonnull`` / ``n_null`` per column,
- ``n_distinct`` — ``approx_count_distinct`` (HLL, default rsd 5%) by
  default; ``exact=True`` switches to exact distinct counts (one
  expand-aggregate — fine at test SFs, expensive at 100 TB, which is
  the point of the default),
- ``min`` / ``max`` (stored in string form, schema-stable) for atomic
  orderable types; complex/binary columns get counts only,

and stamps the result into the table manifest as a META-ONLY commit
(the ``set_ttl`` pattern: versioned, history-snapshotted, atomic) under
``stats = {"version": <analyzed snapshot>, "row_count": N,
"columns": {...}}``.  The stamp records WHICH snapshot was analyzed —
consumers (`table_stats`) see both the stats and their age and decide
staleness policy themselves; `analyze_keyed` of an unchanged snapshot
is a no-op (no empty commit).

``column_stats`` surfaces the persisted stats as a DataFrame (one row
per column) without touching data — the observability twin of
``describe_keyed``'s per-bucket view.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from cascading_hbase_spark.keyed.table import (
    _commit_meta,
    _load_meta,
    _writer_lock,
    read_keyed,
)

__all__ = [
    "StaleStatsError", "access_path_advice", "analyze_keyed",
    "auto_in_lookup", "auto_point_lookup", "auto_range_lookup",
    "broadcast_advice", "column_stats", "estimated_row_bytes",
    "point_lookup_advice", "stats_hinted_join", "suggest_salt_factor",
    "suggest_shuffle_partitions", "table_stats",
]


class StaleStatsError(RuntimeError):
    """Raised by stats consumers under ``require_fresh=True`` when a
    DATA commit landed after the analyzed snapshot (``data_changed``)."""


def _data_fingerprint(meta: dict) -> str:
    """Identity of the VISIBLE DATA, not the manifest version: the
    per-bucket generation pointers + boundaries + the TTL policy.
    Meta-only commits (set_ttl aside, e.g. maintenance stamps and the
    stats commit ITSELF) keep it stable, so the no-op check survives
    its own commit; any data commit moves a pointer and changes it.
    TTL tables drift with the wall clock regardless — re-analyze on a
    schedule there."""
    import hashlib
    import json as _json

    basis = {
        "gens": dict(sorted(meta.get("gens", {}).items())),
        "boundaries": [str(b) for b in meta.get("boundaries", [])],
        "ttl": meta.get("ttl"),
    }
    return hashlib.sha256(
        _json.dumps(basis, sort_keys=True).encode()
    ).hexdigest()[:16]

_ATOMIC = (
    StringType, BooleanType, ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DecimalType, DateType, TimestampType,
    TimestampNTZType,
)


def _heavy_hitters_df(df: DataFrame, cols: list[str], k: int) -> DataFrame:
    """Top-``k`` values per column, from ONE scan of ``df`` regardless
    of ``len(cols)``: every row explodes map-side into one ``(col,
    value)`` pair per analyzed column (nulls dropped — not-a-value),
    one map-side-combined groupBy counts the pairs, and one window
    ranks each column's distincts under the TOTAL order (count desc,
    value asc — ties never make the stored list engine-dependent).
    Returns ``(col, v, count)`` ordered by (col, rank)."""
    from pyspark.sql import Window

    pairs = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col"),
                    F.col(c).cast("string").alias("v"),
                )
                for c in cols
            ])
        ).alias("p")
    ).select("p.col", "p.v").filter(F.col("v").isNotNull())
    counts = pairs.groupBy("col", "v").count()
    rn = F.row_number().over(
        Window.partitionBy("col").orderBy(F.desc("count"), F.asc("v"))
    )
    return (
        counts.withColumn("_rn", rn)
        .filter(F.col("_rn") <= k)
        .orderBy("col", "_rn")
        .drop("_rn")
    )


_HIST_TYPES = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    DecimalType,
)

# Types whose parquet footer min/max are exact AND whose Python value
# string-renders identically to Spark's CAST(col AS STRING): integers
# (decimal repr both sides) and dates (ISO form both sides).  Strings
# are excluded (footer stats may be truncated), floats/decimals/
# timestamps are excluded (Java vs Python repr / session-timezone
# rendering differ).
_FOOTER_MM_TYPES = (ByteType, ShortType, IntegerType, LongType, DateType)


def _footer_min_max(
    path: str, meta: dict, col_types: dict
) -> dict[str, tuple]:
    """Exact per-column (min, max) in stored string form, read from the
    committed snapshot's parquet row-group footers — DRIVER-side, zero
    Spark jobs (the footer is written by the same writer that wrote
    the rows, and parquet min/max ignore nulls exactly like Spark's
    MIN/MAX).  Returns only columns whose every column chunk carries
    trustworthy stats; callers fall back to the aggregate for the
    rest.  Bails to {} (full fallback) when the layout is legacy, a
    TTL is set (expired rows are invisible to the scan but present in
    the footers), the path is a scheme URI, a listed generation holds
    no parquet file, or anything about the footers is unreadable."""
    import os as _os

    gens = meta.get("gens")
    if not gens or meta.get("ttl") or "://" in path:
        return {}
    want = {
        c for c, t in col_types.items() if isinstance(t, _FOOTER_MM_TYPES)
    }
    if not want:
        return {}
    from cascading_hbase_spark.keyed.table import BUCKET_COL, GEN_PREFIX

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    seen: set[str] = set()  # columns with at least one non-null chunk
    try:
        import glob as _glob

        import pyarrow.parquet as pq

        for b, g in gens.items():
            gdir = _os.path.join(
                path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{g}"
            )
            files = sorted(_glob.glob(_os.path.join(gdir, "*.parquet")))
            if not files:
                # a generation the manifest lists but whose files are
                # gone (concurrent vacuum, damaged table): the other
                # buckets' footers are not the table's min/max
                return {}
            for f in files:
                md = pq.ParquetFile(f).metadata
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for ci in range(rg.num_columns):
                        cc = rg.column(ci)
                        name = cc.path_in_schema
                        if name not in want:
                            continue
                        st = cc.statistics
                        if st is None or not st.has_min_max:
                            all_null = (
                                st is not None
                                and st.has_null_count
                                and st.null_count == cc.num_values
                            )
                            if not all_null:
                                want.discard(name)  # untrustworthy
                            continue
                        seen.add(name)
                        if name not in mins or st.min < mins[name]:
                            mins[name] = st.min
                        if name not in maxs or st.max > maxs[name]:
                            maxs[name] = st.max
    except Exception:
        return {}

    def _render(v) -> str | None:
        if v is None:
            return None
        if isinstance(v, bool):  # bool is an int subclass; exclude
            return None
        if hasattr(v, "isoformat"):  # datetime.date -> Spark date form
            return v.isoformat()
        return str(int(v))

    out: dict[str, tuple] = {}
    for c in want:
        if c in seen:
            lo, hi = _render(mins.get(c)), _render(maxs.get(c))
            if lo is None or hi is None:
                continue  # unexpected stat type: fall back
            out[c] = (lo, hi)
        else:
            out[c] = (None, None)  # every chunk all-null == NULL min/max
    return out


def _histograms_df(df: DataFrame, specs: dict, bins: int) -> DataFrame:
    """Equi-width bin counts for every column in ``specs`` ({col:
    (lo, hi)}) from ONE scan of ``df`` — the same explode shape as
    ``_heavy_hitters_df``: each row emits one ``(col, bin)`` pair per
    histogrammed column map-side, one map-side-combined groupBy counts
    them (at most ``bins x len(specs)`` groups — trivially small at
    any table size).  NULL values emit no pair; the min/max rows land
    in bins 1 and ``bins`` (width_bucket's below-range 0 and
    at-the-top bins+1 are clamped in — the bounds come from the same
    snapshot's measured min/max, so nothing is genuinely outside)."""
    entries = []
    for c, (lo, hi) in specs.items():
        wb = F.width_bucket(
            F.col(c).cast("double"),
            F.lit(float(lo)), F.lit(float(hi)), F.lit(bins),
        )
        entries.append(
            F.struct(
                F.lit(c).alias("col"),
                F.when(
                    F.col(c).isNotNull(),
                    F.least(F.lit(bins), F.greatest(F.lit(1), wb)),
                ).alias("bin"),
            )
        )
    return (
        df.select(F.explode(F.array(*entries)).alias("p"))
        .select("p.col", "p.bin")
        .filter(F.col("bin").isNotNull())
        .groupBy("col", "bin")
        .count()
    )


def _hist_fraction(hist: dict, lo: float, hi: float) -> float:
    """Fraction of a column's rows inside [lo, hi], from its persisted
    equi-width histogram: full bins contribute their whole count,
    partially-overlapped edge bins contribute proportionally (the
    standard within-bin-uniform assumption — the estimate is only as
    wrong as one bin's worth of skew, vs the whole column's under the
    uniform-width fallback)."""
    counts = hist.get("counts") or []
    total = sum(counts)
    if total == 0:
        return 0.0
    h_lo, h_hi = hist["lo"], hist["hi"]
    if h_lo == h_hi or len(counts) == 1:
        return 1.0 if lo <= h_lo <= hi else 0.0
    width = (h_hi - h_lo) / len(counts)
    mass = 0.0
    for i, cnt in enumerate(counts):
        b_lo = h_lo + i * width
        overlap = min(hi, b_lo + width) - max(lo, b_lo)
        if overlap > 0:
            mass += cnt * min(1.0, overlap / width)
    return min(1.0, mass / total)


def analyze_keyed(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    exact: bool = False,
    heavy_hitters: int = 0,
    histogram: int = 0,
) -> None:
    """Compute and persist column statistics for the CURRENT snapshot.

    One aggregate job over the pinned snapshot; the stamp rides a
    meta-only commit.  Re-analyzing an unchanged, already-analyzed
    snapshot with the same configuration is a no-op.

    ``heavy_hitters=K`` additionally records each analyzed ATOMIC
    column's top-K values by frequency — in ONE job over ONE table
    scan regardless of column count (r13; the r12 cut re-scanned the
    table once per column, a real multiplier at 100 TB): the columns
    explode to ``(col, value)`` pairs map-side, one map-side-combined
    groupBy counts them (a skewed column by definition concentrates
    its mass in few keys, so the partials stay small even at 100 TB),
    and one per-column top-K window ranks the counted distincts (the
    bounded-memory Misra-Gries variant lives in ``queries/skew.py``
    for when even the distinct-key set is hostile).  Heavy hitters are
    what ``suggest_salt_factor`` and broadcast-vs-shuffle decisions
    consult.

    ``histogram=B`` additionally records a ``B``-bin equi-width
    histogram for every analyzed NUMERIC/decimal column — again one
    job over one scan for all columns (``_histograms_df``) — which
    ``access_path_advice`` consults for range selectivity: the
    measured distribution replaces the uniform-width assumption, so a
    skewed money column's dense region plans the scan and its sparse
    tail the index.  (Temporal columns are excluded: their stored
    min/max string forms render in the analyze session's timezone
    while ``width_bucket`` bins by epoch, and the offset would shift
    every bin edge.)"""
    meta = _load_meta(path)
    version = meta["version"]
    df = read_keyed(spark, path, generation=version)
    columns = list(columns) if columns is not None else list(df.columns)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"analyze columns not in table: {missing}")
    fp = _data_fingerprint(meta)
    prior = meta.get("stats")
    if (
        prior is not None
        and prior.get("fingerprint") == fp
        and set(prior.get("columns", {})) == set(columns)
        and prior.get("exact", False) == exact
        and prior.get("heavy_hitters", 0) == heavy_hitters
        and prior.get("histogram", 0) == histogram
    ):
        return  # stats for this exact data snapshot already stamped

    # Min/max for integer/date columns short-circuit on the parquet
    # row-group footers (zero jobs, written by the same writer — VERDICT
    # r13 item 8); only the columns the footers cannot serve keep their
    # MIN/MAX expressions in the aggregate below.  Values are pinned
    # equal to the computed path by tests/test_stats.py.
    fmm = _footer_min_max(
        path, meta, {c: df.schema[c].dataType for c in columns}
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(columns):
        col = F.col(c)
        aggs.append(F.count(col).alias(f"nn_{i}"))
        aggs.append(
            (F.count_distinct(col) if exact
             else F.approx_count_distinct(col)).alias(f"nd_{i}")
        )
        if isinstance(df.schema[c].dataType, _ATOMIC) and c not in fmm:
            aggs.append(F.min(col).cast("string").alias(f"mn_{i}"))
            aggs.append(F.max(col).cast("string").alias(f"mx_{i}"))
    row = df.agg(*aggs).collect()[0].asDict()
    for i, c in enumerate(columns):
        if c in fmm:
            row[f"mn_{i}"], row[f"mx_{i}"] = fmm[c]

    n = int(row["__n"])
    hh_by_col: dict[str, list] = {}
    if heavy_hitters > 0:
        hh_cols = [
            c for c in columns if isinstance(df.schema[c].dataType, _ATOMIC)
        ]
        if hh_cols:
            for r in _heavy_hitters_df(df, hh_cols, heavy_hitters).collect():
                hh_by_col.setdefault(r.col, []).append(
                    {"value": r.v, "count": int(r["count"])}
                )
            for c in hh_cols:  # all-null columns still record []
                hh_by_col.setdefault(c, [])
    hist_by_col: dict[str, dict] = {}
    if histogram > 0:
        specs: dict[str, tuple] = {}
        for i, c in enumerate(columns):
            dtype = df.schema[c].dataType
            if not isinstance(dtype, _HIST_TYPES):
                continue
            mn_s, mx_s = row.get(f"mn_{i}"), row.get(f"mx_{i}")
            lo = _stat_position(mn_s, dtype)
            hi = _stat_position(mx_s, dtype)
            if lo is None or hi is None:
                continue
            if lo == hi:
                # single-valued column: the whole mass in one bin,
                # no scan participation needed
                hist_by_col[c] = {
                    "bins": histogram, "lo": lo, "hi": hi,
                    "counts": [int(row[f"nn_{i}"])],
                }
            else:
                specs[c] = (lo, hi)
        if specs:
            got = {
                (r.col, int(r.bin)): int(r["count"])
                for r in _histograms_df(df, specs, histogram).collect()
            }
            for c, (lo, hi) in specs.items():
                hist_by_col[c] = {
                    "bins": histogram, "lo": lo, "hi": hi,
                    "counts": [
                        got.get((c, b), 0)
                        for b in range(1, histogram + 1)
                    ],
                }
    cols_out = {}
    for i, c in enumerate(columns):
        ent = {
            "n_nonnull": int(row[f"nn_{i}"]),
            "n_null": n - int(row[f"nn_{i}"]),
            "n_distinct": int(row[f"nd_{i}"]),
        }
        if f"mn_{i}" in row:
            ent["min"] = row[f"mn_{i}"]
            ent["max"] = row[f"mx_{i}"]
        if c in hh_by_col:
            ent["heavy_hitters"] = hh_by_col[c]
        if c in hist_by_col:
            ent["histogram"] = hist_by_col[c]
        cols_out[c] = ent

    with _writer_lock(path):
        cur = _load_meta(path)
        # stamp names the ANALYZED snapshot even if the table moved
        # between the scan and this commit — consumers compare it to
        # the current version and see exactly how stale the stats are
        cur["stats"] = {
            "version": version,
            "fingerprint": fp,
            "exact": exact,
            "heavy_hitters": heavy_hitters,
            "histogram": histogram,
            "row_count": n,
            "columns": cols_out,
        }
        _commit_meta(path, cur)


def table_stats(path: str) -> dict:
    """The persisted stats document plus ``current_version`` (the
    table's live version, for staleness accounting: the stats commit
    itself bumps the version, so freshly-analyzed stats read
    ``current_version == stats["version"] + 1``).  Raises KeyError if
    the table was never analyzed."""
    meta = _load_meta(path)
    st = meta.get("stats")
    if st is None:
        raise KeyError(f"keyed table {path} has no stats; analyze_keyed first")
    return {
        **st,
        "current_version": meta["version"],
        # True when a DATA commit landed after the analysis (meta-only
        # commits keep the fingerprint stable) — the staleness signal
        # consumers act on
        "data_changed": _data_fingerprint(meta) != st.get("fingerprint"),
    }


def suggest_salt_factor(
    path: str,
    col: str,
    partitions: int = 200,
    cap: int = 64,
    require_fresh: bool = False,
) -> int:
    """A salt factor for joins/aggs keyed on ``col``, derived from the
    PERSISTED heavy hitters (``analyze_keyed(heavy_hitters=K)``
    first): the hottest key's rows would all land in one reduce task,
    so split it across ``ceil(top_share * partitions)`` salts — 1
    (no salting) when the hottest key is no bigger than a balanced
    partition's share, capped at ``cap`` (each salt multiplies the
    build side of a salted join).  This is the number
    ``functions/skew.py``'s salted operators take as their explicit
    factor — derived from measured stats instead of guessed.

    Raises KeyError when the table was never analyzed or the column
    has no heavy-hitter stats (counts-only analysis).  STALE stats
    (a data commit after the analysis) still resolve by default — a
    salt factor from old stats is merely suboptimal, never wrong (any
    factor yields identical results) — pass ``require_fresh=True`` to
    get ``StaleStatsError`` instead when the workload's skew drifts."""
    import math

    st = table_stats(path)
    if require_fresh and st.get("data_changed"):
        raise StaleStatsError(
            f"stats for {path} predate the latest data commit "
            f"(analyzed v{st['version']}, now v{st['current_version']}); "
            f"re-run analyze_keyed"
        )
    ent = st["columns"].get(col)
    if ent is None or "heavy_hitters" not in ent:
        raise KeyError(
            f"no heavy-hitter stats for {col!r}; run "
            f"analyze_keyed(..., columns=[{col!r}], heavy_hitters=K)"
        )
    hh = ent["heavy_hitters"]
    total = st["row_count"]
    if not hh or not total:
        return 1
    top_share = hh[0]["count"] / total
    return max(1, min(cap, math.ceil(top_share * partitions)))


def suggest_shuffle_partitions(
    path: str,
    target_mb: int = 128,
    floor: int = 1,
    cap: int = 4096,
    require_fresh: bool = False,
) -> int:
    """A ``spark.sql.shuffle.partitions`` value for shuffles whose
    payload is roughly this table's rows, from the persisted stats:
    ``ceil(row_count x estimated_row_bytes / target_mb)``, clamped to
    [floor, cap].  The sizing rule every Spark tuning guide states —
    partitions sized so each fits comfortably in executor memory —
    computed from measured metadata instead of a guess, the same
    promotion ``suggest_salt_factor`` made for skew.  Staleness
    follows the salt rule (a partition count is a balance knob — any
    value is correct): stale stats resolve, ``require_fresh=True``
    raises ``StaleStatsError``."""
    import math

    st = table_stats(path)
    if require_fresh and st.get("data_changed"):
        raise StaleStatsError(
            f"stats for {path} predate the latest data commit "
            f"(analyzed v{st['version']}, now v{st['current_version']}); "
            f"re-run analyze_keyed"
        )
    total = st["row_count"] * estimated_row_bytes(st)
    return max(floor, min(cap, math.ceil(total / (target_mb * 1024 * 1024))))


def estimated_row_bytes(stats: dict) -> int:
    """A defensible in-memory row-width estimate from the persisted
    stats alone (no data read): per column, the average of the stored
    min/max STRING forms' lengths (the only width evidence the stats
    carry) plus per-field overhead; columns without min/max (complex/
    binary — width unknowable from counts) charge a conservative 64
    bytes.  Used by ``broadcast_advice`` as rows x width vs the
    broadcast budget — an ESTIMATE for a go/no-go decision, not an
    accounting of Tungsten's exact layout."""
    total = 0
    for ent in stats["columns"].values():
        if "min" in ent and ent["min"] is not None:
            total += (len(str(ent["min"])) + len(str(ent["max"]))) // 2 + 8
        else:
            total += 64
    return max(total, 8)


def broadcast_advice(
    path: str,
    max_bytes: int | None = None,
    require_fresh: bool = False,
) -> bool:
    """Should a join build side read from this keyed table be
    BROADCAST?  Decided from the PERSISTED stats (``analyze_keyed``
    first — raises KeyError when never analyzed): estimated bytes =
    ``row_count x estimated_row_bytes`` under ``max_bytes`` (default:
    the session-independent 10 MiB, Spark's own
    ``autoBroadcastJoinThreshold`` default) says broadcast.

    The staleness rule is CONSERVATIVE in the direction that cannot
    OOM a cluster: when a data commit landed after the analysis
    (``data_changed``) the dim may have grown unboundedly since, so
    the advice is False (shuffle — always correct, never fatal) unless
    the caller asked to fail loud instead (``require_fresh=True`` ->
    ``StaleStatsError``).  A stale-stats SALT decision only costs
    balance; a stale-stats broadcast decision can kill executors —
    hence the asymmetry with ``suggest_salt_factor``."""
    st = table_stats(path)
    if st.get("data_changed"):
        if require_fresh:
            raise StaleStatsError(
                f"stats for {path} predate the latest data commit "
                f"(analyzed v{st['version']}, now v{st['current_version']}); "
                f"re-run analyze_keyed"
            )
        return False
    budget = 10 * 1024 * 1024 if max_bytes is None else max_bytes
    return st["row_count"] * estimated_row_bytes(st) <= budget


def stats_hinted_join(
    spark: SparkSession,
    fact: DataFrame,
    dim_path: str,
    on: list[str] | str,
    how: str = "inner",
    max_bytes: int | None = None,
) -> DataFrame:
    """Join ``fact`` against a keyed DIM table with the broadcast
    decision taken from the dim's PERSISTED stats at plan time — the
    reference's own planning story (it consults the server's region
    metadata to plan splits, TableInputFormatWrap.java:46-66) promoted
    to the join: ``analyze_keyed`` once, and every later join against
    the dim plans itself without re-scanning or guessing.

    ``broadcast_advice`` True -> an explicit ``F.broadcast`` hint (the
    map-side join, zero shuffle of the fact side); False (big dim,
    never-analyzed stays an error, STALE stats conservatively shuffle)
    -> unhinted, letting AQE pick from runtime sizes.  Either branch
    returns identical rows; only the physical plan moves."""
    dim = read_keyed(spark, dim_path)
    if broadcast_advice(dim_path, max_bytes=max_bytes):
        dim = F.broadcast(dim)
    return fact.join(dim, on=on, how=how)


def column_stats(spark: SparkSession, path: str) -> DataFrame:
    """Persisted stats as one row per column — metadata only, no data
    read.  ``min``/``max`` are the stored string forms (NULL for
    complex/binary columns)."""
    st = table_stats(path)
    rows = [
        (
            c,
            ent["n_nonnull"],
            ent["n_null"],
            ent["n_distinct"],
            ent.get("min"),
            ent.get("max"),
        )
        for c, ent in sorted(st["columns"].items())
    ]
    return spark.createDataFrame(
        rows,
        "column string, n_nonnull bigint, n_null bigint, "
        "n_distinct bigint, min string, max string",
    )


# Types whose stored min/max string forms admit a NUMERIC position on
# the column's value line — the precondition for estimating what
# fraction of the table a range predicate selects.  Strings don't (the
# width of a lexicographic interval is not derivable from its
# endpoints), so string ranges stay conservatively on the scan path
# unless the caller overrides.
_WIDTH_ESTIMABLE = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    DecimalType, DateType, TimestampType, TimestampNTZType,
)


def _stat_position(s, dtype) -> float | None:
    """A float position for a stat string / probe value of ``dtype``
    on the column's value line (days for dates, epoch seconds for
    timestamps, the numeric value otherwise).  Estimation-grade: a
    naive timestamp parses without timezone correction — an error of
    hours on a span the estimate divides by cannot move an access-path
    decision.  None = unparseable (schema drift, complex type)."""
    import datetime

    if s is None:
        return None
    s = str(s)
    try:
        if isinstance(dtype, DateType):
            return float(datetime.date.fromisoformat(s).toordinal())
        if isinstance(dtype, (TimestampType, TimestampNTZType)):
            dt = datetime.datetime.fromisoformat(s.replace(" ", "T"))
            if dt.tzinfo is not None:
                dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return (dt - datetime.datetime(1970, 1, 1)).total_seconds()
        return float(s)
    except (ValueError, OverflowError):
        return None


def _scan_between(
    spark: SparkSession, path: str, col: str, lo, hi,
    fields: list[str] | None,
) -> DataFrame:
    """The scan branch of the auto access paths: zone-map bucket
    pruning for NUMERIC/decimal columns (the manifest stores zone
    bounds as doubles, so only values ``float()`` accepts can compare
    against them — a date/timestamp/string bound would either crash
    the prune comparison or never prune), a plain pushed-down filter
    for everything else.  Both are exactly ``WHERE col BETWEEN``."""
    from cascading_hbase_spark.keyed.index import _col_type
    from cascading_hbase_spark.keyed.table import _load_meta

    dtype = _col_type(_load_meta(path), col)
    zone_ok = isinstance(
        dtype,
        (ByteType, ShortType, IntegerType, LongType, FloatType,
         DoubleType, DecimalType),
    )
    if zone_ok:
        df = read_keyed(spark, path, zone_filter=(col, lo, hi))
    else:
        df = read_keyed(spark, path)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df.select(*fields) if fields is not None else df


def _usable_index(path: str, col: str) -> tuple:
    """``(main_meta, fresh)`` for an index that can serve ``col``
    exactly RIGHT NOW, else raises the blocker.  ``fresh=False`` means
    the index is version-stale only through META-ONLY commits — the
    stats stamp ``analyze_keyed`` writes is the canonical one — which
    the DATA fingerprint proves touched neither content nor the TTL
    policy: the stamped snapshot IS the current data, so a
    ``check_fresh=False`` point-in-time lookup through it is exact."""
    from cascading_hbase_spark.keyed.index import (
        StaleIndexError,
        _resolve,
    )

    try:
        _, _, main_meta = _resolve(path, col, check_fresh=True)
        return main_meta, True
    except StaleIndexError as e:
        from cascading_hbase_spark.keyed.table import _meta_at

        try:
            _, info, main_meta = _resolve(path, col, check_fresh=False)
            stamped = _meta_at(path, info.get("version"))
        except Exception:
            raise e from None
        if _data_fingerprint(stamped) != _data_fingerprint(main_meta):
            raise e from None
        return main_meta, False


def access_path_advice(
    path: str,
    col: str,
    lower=None,
    upper=None,
    threshold: float = 0.1,
    require_fresh: bool = False,
) -> dict:
    """Which access path should serve ``col BETWEEN lower AND upper``
    on this keyed table — the classic optimizer decision (secondary
    index vs table scan), taken from PERSISTED metadata only (the
    stats stamp + the index manifest; zero data reads, exactly how the
    reference plans splits from server metadata,
    TableInputFormatWrap.java:46-66).

    Returns ``{"path": "index"|"scan", "reason": str,
    "est_fraction": float|None, "est_rows": int|None, "stale": bool}``.

    The decision: estimated selected fraction = range width over the
    analyzed [min, max] width, times ``row_count``.  At or under
    ``threshold`` (default 10%) a usable index wins — the index path
    costs O(matching rows) twice (index hits + the semi-join main
    read) plus a shuffle, which beats a full scan only when the match
    set is small; over it, the scan path wins — one pushed-filter pass
    with zone-map bucket pruning, never worse than the table itself.

    Routed to "scan" with the blocker named in ``reason`` when the
    index cannot serve: no index on ``col``, index stale / foreign
    incarnation / old key encoding (``refresh_index`` is the fix — an
    AUTO planner degrades to the always-correct scan instead of
    refusing the query), float-typed column (no order-preserving
    encoding), or a width-unestimable (string) range.

    A VERSION-stale index whose stamped snapshot has the same DATA
    fingerprint as the current one (only meta-only commits landed
    since the build — the stats stamp itself is one, so
    analyze-after-index is the common case) still serves: index
    content depends only on the data, and the fingerprint covers
    gens + boundaries + the TTL policy, so every read-time semantic
    the lookup depends on is provably unchanged.  The result carries
    ``index_point_in_time=True`` and ``auto_range_lookup`` serves it
    with ``check_fresh=False`` (pinned at the stamped version — which
    the fingerprint just proved identical).

    Staleness follows the SALT rule, not the broadcast rule: both
    paths return exactly the same rows at any data size, so stale
    stats cost performance, never correctness or executor memory —
    they resolve by default; ``require_fresh=True`` raises
    ``StaleStatsError``.  Raises KeyError when the table was never
    analyzed or ``col`` has no stats entry."""
    from cascading_hbase_spark.keyed.index import (
        StaleIndexError,
        _col_type,
        _orderable,
    )

    st = table_stats(path)
    stale = bool(st.get("data_changed"))
    if stale and require_fresh:
        raise StaleStatsError(
            f"stats for {path} predate the latest data commit "
            f"(analyzed v{st['version']}, now v{st['current_version']}); "
            f"re-run analyze_keyed"
        )
    ent = st["columns"].get(col)
    if ent is None:
        raise KeyError(
            f"no stats for column {col!r}; run "
            f"analyze_keyed(..., columns=[{col!r}])"
        )

    def scan(reason, frac=None, rows=None):
        return {
            "path": "scan", "reason": reason, "est_fraction": frac,
            "est_rows": rows, "stale": stale,
        }

    try:
        main_meta, fresh = _usable_index(path, col)
        point_in_time = not fresh
    except (FileNotFoundError, StaleIndexError) as e:
        return scan(f"index unusable: {e}")
    dtype = _col_type(main_meta, col)
    if dtype is None or not _orderable(dtype):
        return scan(
            f"column type {dtype} has no order-preserving index "
            f"encoding; zone-pruned scan is the range path"
        )
    if not isinstance(dtype, _WIDTH_ESTIMABLE):
        return scan(
            f"range width over {dtype} is not estimable from min/max "
            f"stats; pass prefer='index' to override"
        )
    mn = _stat_position(ent.get("min"), dtype)
    mx = _stat_position(ent.get("max"), dtype)
    if mn is None or mx is None:
        return scan("no parseable min/max stats for the column")
    lo = _stat_position(lower, dtype) if lower is not None else mn
    hi = _stat_position(upper, dtype) if upper is not None else mx
    if lo is None or hi is None:
        return scan("unparseable range bound")
    lo, hi = max(lo, mn), min(hi, mx)
    hist = ent.get("histogram")
    if hi < lo:
        frac, basis = 0.0, "empty range"
    elif hist and hist.get("counts"):
        # the measured distribution: only as wrong as one bin's skew,
        # where the uniform-width fallback is as wrong as the column's
        frac = _hist_fraction(hist, lo, hi)
        basis = f"measured {hist['bins']}-bin histogram"
    elif mx == mn:
        frac, basis = 1.0, "single-valued column"
    else:
        frac = (hi - lo) / (mx - mn)
        basis = "uniform width assumption"
    rows = int(round(frac * st["row_count"]))
    if frac <= threshold:
        return {
            "path": "index",
            "reason": f"estimated fraction {frac:.4f} <= threshold "
                      f"{threshold} ({basis})",
            "est_fraction": frac, "est_rows": rows, "stale": stale,
            "index_point_in_time": point_in_time,
        }
    return scan(
        f"estimated fraction {frac:.4f} > threshold {threshold} "
        f"({basis})", frac, rows,
    )


def auto_range_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    lower=None,
    upper=None,
    fields: list[str] | None = None,
    threshold: float = 0.1,
    require_fresh: bool = False,
    prefer: str = "auto",
) -> DataFrame:
    """Serve ``col BETWEEN lower AND upper`` (inclusive; either bound
    may be open, not both) through the access path
    ``access_path_advice`` picks from the persisted stats — a narrow
    range rides the secondary index (one pruned index key-range scan,
    O(matching rows)), a wide one rides the zone-pruned main scan (one
    pushed-filter pass) — so the analyzed stats flip the PHYSICAL plan
    while the rows stay identical (plan-asserted both directions in
    ``tests/test_stats.py``).  ``prefer="index"|"scan"`` forces a
    branch (a forced index that cannot serve raises, the explicit ask
    fails loud; "auto" degrades to scan instead).

    Both-open bounds are refused rather than silently divergent: the
    scan path would keep NULL-valued rows (no filter) while the index
    path never serves NULLs (nulls are not indexed)."""
    if lower is None and upper is None:
        raise ValueError(
            "auto_range_lookup needs at least one bound; a both-open "
            "range is read_keyed (and the paths disagree on NULLs)"
        )
    check_fresh = True
    if prefer == "auto":
        adv = access_path_advice(
            path, col, lower, upper,
            threshold=threshold, require_fresh=require_fresh,
        )
        branch = adv["path"]
        check_fresh = not adv.get("index_point_in_time", False)
    elif prefer in ("index", "scan"):
        branch = prefer
        if prefer == "index":
            # forced index still fails LOUD on a truly-stale index (the
            # explicit ask does not degrade), but meta-only staleness
            # serves point-in-time, same as the auto path
            _, fresh = _usable_index(path, col)
            check_fresh = fresh
    else:
        raise ValueError(f"prefer must be auto|index|scan, got {prefer!r}")
    if branch == "index":
        from cascading_hbase_spark.keyed.index import index_range_lookup

        return index_range_lookup(
            spark, path, col, lower, upper, fields=fields,
            check_fresh=check_fresh,
        )
    return _scan_between(spark, path, col, lower, upper, fields)


def point_lookup_advice(
    path: str,
    col: str,
    value,
    threshold: float = 0.1,
    require_fresh: bool = False,
) -> dict:
    """Access-path advice for ``col = value`` — the equality twin of
    ``access_path_advice``, with PER-VALUE selectivity: a probe value
    that IS one of the persisted heavy hitters uses its MEASURED count
    (the hot value that matches a quarter of the table must scan, and
    only the stats can know which value that is); any other value uses
    the residual average — (non-heavy rows) / (non-heavy distincts) —
    which the recorded heavy mass no longer distorts (the naive
    rows/NDV average over-estimates every cold value of a skewed
    column).  Same return shape and staleness/degradation rules as
    ``access_path_advice``; estimation works for EVERY atomic type
    here (a single value needs no width arithmetic)."""
    st = table_stats(path)
    stale = bool(st.get("data_changed"))
    if stale and require_fresh:
        raise StaleStatsError(
            f"stats for {path} predate the latest data commit "
            f"(analyzed v{st['version']}, now v{st['current_version']}); "
            f"re-run analyze_keyed"
        )
    if value is None:
        raise ValueError(
            "point lookup on NULL is not served (nulls are not "
            "indexed and `= NULL` is never true); filter the main "
            "table with isNull"
        )
    ent = st["columns"].get(col)
    if ent is None:
        raise KeyError(
            f"no stats for column {col!r}; run "
            f"analyze_keyed(..., columns=[{col!r}])"
        )

    def scan(reason, frac=None, rows=None):
        return {
            "path": "scan", "reason": reason, "est_fraction": frac,
            "est_rows": rows, "stale": stale,
        }

    from cascading_hbase_spark.keyed.index import StaleIndexError

    try:
        _main_meta, fresh = _usable_index(path, col)
    except (FileNotFoundError, StaleIndexError) as e:
        return scan(f"index unusable: {e}")
    hh = ent.get("heavy_hitters") or []
    hit = next(
        (h for h in hh if str(h["value"]) == str(value)), None
    )
    if hit is not None:
        est = hit["count"]
        basis = "measured heavy-hitter count"
    else:
        heavy_rows = sum(h["count"] for h in hh)
        resid_distinct = max(1, ent["n_distinct"] - len(hh))
        resid_rows = max(0, ent["n_nonnull"] - heavy_rows)
        est = resid_rows / resid_distinct
        basis = (
            "residual average (non-heavy rows / non-heavy distincts)"
            if hh else "rows / NDV average"
        )
    total = max(1, st["row_count"])
    frac = min(1.0, est / total)
    rows = int(round(est))
    if frac <= threshold:
        return {
            "path": "index",
            "reason": f"estimated fraction {frac:.4f} <= threshold "
                      f"{threshold} ({basis})",
            "est_fraction": frac, "est_rows": rows, "stale": stale,
            "index_point_in_time": not fresh,
        }
    return scan(
        f"estimated fraction {frac:.4f} > threshold {threshold} "
        f"({basis})", frac, rows,
    )


def auto_point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    fields: list[str] | None = None,
    threshold: float = 0.1,
    require_fresh: bool = False,
    prefer: str = "auto",
) -> DataFrame:
    """Serve ``col = value`` through the access path
    ``point_lookup_advice`` picks: a COLD value rides the secondary
    index (O(matching rows)); a value the heavy-hitter stats measured
    as hot rides the zone-pruned scan — one pass, no semi-join of a
    quarter of the table back into itself.  The probe value's own
    measured frequency, not a column-wide average, flips the plan."""
    from cascading_hbase_spark.keyed.table import _load_meta

    if _load_meta(path).get("key") == col:
        raise ValueError(
            f"{col!r} is the table key; use get_keyed (bucket-pruned "
            f"point get), not a secondary access path"
        )
    if value is None:
        raise ValueError(
            "point lookup on NULL is not served (nulls are not "
            "indexed and `= NULL` is never true); filter the main "
            "table with isNull"
        )
    check_fresh = True
    if prefer == "auto":
        adv = point_lookup_advice(
            path, col, value,
            threshold=threshold, require_fresh=require_fresh,
        )
        branch = adv["path"]
        check_fresh = not adv.get("index_point_in_time", False)
    elif prefer in ("index", "scan"):
        branch = prefer
        if prefer == "index":
            _, fresh = _usable_index(path, col)
            check_fresh = fresh
    else:
        raise ValueError(f"prefer must be auto|index|scan, got {prefer!r}")
    if branch == "index":
        from cascading_hbase_spark.keyed.index import index_lookup

        return index_lookup(
            spark, path, col, value, fields=fields,
            check_fresh=check_fresh,
        )
    return _scan_between(spark, path, col, value, value, fields)


def auto_in_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    values,
    fields: list[str] | None = None,
    threshold: float = 0.1,
    require_fresh: bool = False,
    prefer: str = "auto",
) -> DataFrame:
    """Serve ``col IN (values)`` through the stats-picked access path
    — the IN-list member of the auto family (range / point / IN): the
    estimated match TOTAL is the sum of each probe's per-value
    estimate (measured heavy-hitter counts where recorded, the
    residual average otherwise — one hot value in the list is enough
    to tip the whole lookup to the scan, which is exactly right: the
    index would semi-join that value's quarter-of-the-table anyway).
    Index branch = ``index_in_lookup`` (one pruned prefix scan per
    distinct value, unioned); scan branch = one pushed ``isin`` pass
    with zone-map pruning to the list's [min, max] envelope for
    numeric columns."""
    from cascading_hbase_spark.keyed.table import _load_meta

    if _load_meta(path).get("key") == col:
        raise ValueError(
            f"{col!r} is the table key; use get_keyed (bucket-pruned "
            f"multi-Get), not a secondary access path"
        )
    vals = [v for v in values]
    if not vals:
        raise ValueError("auto_in_lookup needs at least one value")
    if any(v is None for v in vals):
        raise ValueError(
            "IN-list lookup does not cover NULL (nulls are not indexed "
            "and `IN` never matches NULL); filter with isNull"
        )
    check_fresh = True
    if prefer == "auto":
        branch, total_rows, point_in_time = "index", 0.0, False
        for v in vals:
            adv = point_lookup_advice(
                path, col, v,
                threshold=threshold, require_fresh=require_fresh,
            )
            if adv["path"] == "scan" and adv.get("est_fraction") is None:
                branch = "scan"  # index unusable — degrade the lookup
                break
            total_rows += adv["est_rows"]
            point_in_time = point_in_time or adv.get(
                "index_point_in_time", False
            )
        else:
            if total_rows / max(1, table_stats(path)["row_count"]) > threshold:
                branch = "scan"
        check_fresh = not point_in_time
    elif prefer in ("index", "scan"):
        branch = prefer
        if prefer == "index":
            _, fresh = _usable_index(path, col)
            check_fresh = fresh
    else:
        raise ValueError(f"prefer must be auto|index|scan, got {prefer!r}")
    if branch == "index":
        from cascading_hbase_spark.keyed.index import index_in_lookup

        return index_in_lookup(
            spark, path, col, vals, fields=fields,
            check_fresh=check_fresh,
        )
    df = _scan_between(
        spark, path, col, min(vals), max(vals), fields=None
    ).filter(F.col(col).isin(vals))
    return df.select(*fields) if fields is not None else df
