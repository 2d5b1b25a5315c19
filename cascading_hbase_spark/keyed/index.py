"""Secondary (equality) index over a keyed table — the engine-side
analogue of the index tables HBase users maintain next to a row-keyed
table (the reference's tables are reachable by row key only,
HBaseTap.java:52-60; anything else is a full scan, so the ecosystem
convention is a second table keyed by the indexed value).

The index IS a keyed table: its key is the composite string
``<encoded value>\\x00<row key>``, where the value encoding is
ORDER-PRESERVING for string / boolean / integral / date / timestamp
columns (integrals are offset by 2^63 and zero-padded to 20 digits —
the decimal-string analogue of HBase's OrderedBytes, which solves the
same problem for byte-sorted rowkeys: plain ``str(n)`` sorts "10"
before "2").  So

- an equality lookup is a *range scan* on the value prefix — bucket-dir
  pruned and row-group pruned like any keyed range scan, touching
  O(matching rows) of the index, never the main table's width;
- a RANGE lookup (``index_range_lookup``) is the same scan with value
  bounds instead of a single prefix — ``BETWEEN`` resolved through the
  index at O(matching rows), the classic secondary-range-scan HBase
  users hand-build with OrderedBytes rowkeys.  Timestamps encode as
  offset-padded unix MICROS (v4) — ordered by the instant, so the
  encoding is independent of ``spark.sql.session.timeZone`` and
  monotone across DST folds, where the rendered local string is not;
  fixed-scale decimals (precision <= 35) encode their unscaled
  integer offset-padded, the exact money-column range path.  Float
  columns (and decimals above precision 35, whose shifted sum would
  not fit decimal(38)) keep their plain CAST-string encoding
  (equality-only; a float's string form is not ordered) and refuse
  range lookups with a pointer to the main table's zone maps;
- a COVERING index (``create_index(..., include=[...])``) stores the
  named extra columns in-row, and a lookup whose ``fields`` are all
  covered is served INDEX-ONLY — zero main-table bytes touched, the
  difference between a point lookup costing O(matching rows) and
  O(matching rows + a wide-table fetch) at 100 TB;
- a COMPOSITE index (``create_index(path, ["a", "b"])``) concatenates
  the encoded values (``enc(a)\\x00enc(b)\\x00rowkey``), giving the
  classic composite-key query shapes: full-tuple equality, equality on
  a LEADING prefix of the columns, and equality-on-prefix + range on
  the next column (``index_range_lookup(..., prefix=(a_val,))``) — all
  as ONE contiguous key-range scan.  Like a B-tree composite index,
  non-leading access (skipping a column) is not served;
- the fetched row keys come back as a semi-join against the key-sorted
  main table (the key filter pushes into its parquet scan; AQE
  broadcasts the index side at runtime when it is small — a hot value
  matching millions of rows degrades to a shuffled semi-join instead
  of OOMing a forced broadcast).  At 100 TB: index-range scan + point
  fetches, no full scan.

Consistency is explicit, not magical: the index records the main
table's manifest version AND incarnation id at build time; a lookup on
a stale index raises ``StaleIndexError`` (opt out with
``check_fresh=False``, which resolves against the SNAPSHOT the index
was built from — a genuine point-in-time lookup), and ``refresh_index``
rebuilds.  A main table that was REPLACEd under the index is detected
by the incarnation id and always raises, even with
``check_fresh=False`` — its version counter restarted, so the stamped
version now names a different table's history.  Synchronous index
maintenance on every write is deliberately NOT done — at scale an
index rebuild is a compact batch job, and a silently-async index that
pretends to be fresh is how phantom reads happen.

Nulls in the indexed column are not indexed (SQL-index convention);
indexed values whose string form contains ``\\x00`` are rejected at
build time rather than silently mis-ranged.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from cascading_hbase_spark.keyed.table import (
    DEFAULT_RETAIN,
    SinkMode,
    _attach_stream_stamp,
    _commit_meta,
    _load_meta,
    _writer_lock,
    apply_changefeed,
    changefeed_keyed,
    read_keyed,
    write_keyed,
)

__all__ = [
    "StaleIndexError", "attach_index_stream_stamp", "create_index",
    "refresh_index", "drop_index", "index_lookup", "index_in_lookup",
    "index_range_lookup",
]

_SEP = "\x00"
_SUFFIX = "__kt_idx_"
# Key-encoding version, stamped into index_of at build time.  Bumped
# when the composite-key layout changes; a lookup through an index
# whose stamp does not match refuses (the stored keys would mis-range),
# and refresh_index resolves the mismatch by full rebuild.  v2 =
# order-preserving integral encoding (offset + zero-pad); v3 = indexed
# values stored under their real column names (composite support);
# v4 = TimestampType as offset-padded unix MICROS (the rendered local
# string an index built under one session timezone stored would
# silently mismatch probes from another, and is non-monotone across a
# DST fall-back fold — r12 ADVICE) + fixed-scale decimals (precision
# <= _DEC_MAX_P) as their offset-padded unscaled integer.
_ENC = 4
_I64_OFFSET = 2**63
# Largest decimal precision the order-preserving encoding serves: the
# shift arithmetic runs in decimal(p+2, s) operands whose sum type is
# decimal(p+3, s), which must fit Spark's 38-digit ceiling EXACTLY —
# past it Spark silently reduces the scale (rounds), corrupting order.
_DEC_MAX_P = 35

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _orderable(dtype) -> bool:
    """Types whose v4 encoding preserves the COLUMN order in the index
    key order — the precondition for ``index_range_lookup``.  String is
    identity; boolean is 'false' < 'true'; integrals are offset+padded;
    TimestampType goes through unix MICROS (instant-ordered,
    session-timezone-independent) and then the integral path;
    fixed-scale decimals up to precision 35 offset+pad their unscaled
    integer; date / TimestampNTZ CAST AS STRING is ISO-formatted,
    which compares lexicographically as it compares temporally (Spark
    prints no trailing fraction zeros, and fraction digits without
    trailing zeros compare lexicographically as numerically)."""
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dtype, DecimalType):
        return dtype.precision <= _DEC_MAX_P
    return isinstance(
        dtype,
        (StringType, BooleanType, DateType, TimestampType, TimestampNTZType)
        + _INTEGRAL,
    )


def _encode_expr(col_expr, dtype):
    """The indexed value as its composite-key string form (v4).
    Integrals map through ``lpad(v + 2^63, 20, '0')`` — decimal(20,0)
    arithmetic, exact over the full int64 range (2^64-1 < 10^20) and
    JVM-side end to end.  TimestampType maps to ``unix_micros`` first
    (the stored INSTANT — ordering and probes are then independent of
    ``spark.sql.session.timeZone``, and monotone across DST folds) and
    reuses the integral path.  A decimal(p, s) with p <= 35 shifts by
    ``10^(p-s)`` in decimal(p+2, s) operands (sum type decimal(p+3, s)
    — exact; at 38 digits Spark would silently round), renders the
    always-positive fixed-scale result, strips the point, and pads to
    p+1 digits — the offset-padded unscaled integer.  Everything else
    keeps CAST AS STRING."""
    from pyspark.sql.types import DecimalType, TimestampType

    if isinstance(dtype, TimestampType):
        return _encode_expr(F.unix_micros(col_expr), LongType())
    if isinstance(dtype, _INTEGRAL):
        shifted = (
            col_expr.cast("decimal(20,0)")
            + F.lit(str(_I64_OFFSET)).cast("decimal(20,0)")
        ).cast("decimal(20,0)")
        return F.lpad(shifted.cast("string"), 20, "0")
    if isinstance(dtype, DecimalType) and dtype.precision <= _DEC_MAX_P:
        p, s = dtype.precision, dtype.scale
        wide = f"decimal({p + 2},{s})"
        shifted = col_expr.cast(wide) + F.lit(str(10 ** (p - s))).cast(wide)
        return F.lpad(
            F.regexp_replace(shifted.cast("string"), r"[.]", ""),
            p + 1,
            "0",
        )
    return col_expr.cast("string")


def _encode_value(spark: SparkSession, value, dtype) -> str:
    """The probe value encoded exactly as ``_encode_expr`` encoded the
    column — local fast paths where the two provably agree (str/bool/
    int/date), one 1-row driver-side evaluation of the SAME expression
    otherwise (timestamp session-timezone interpretation of naive
    probes and decimal widening/scale rules are Spark semantics — not
    worth re-implementing in Python)."""
    import datetime

    if isinstance(value, str) and isinstance(dtype, StringType):
        return value
    if isinstance(value, bool) and isinstance(dtype, BooleanType):
        return "true" if value else "false"
    if (
        isinstance(value, int)
        and not isinstance(value, bool)
        and isinstance(dtype, _INTEGRAL)
    ):
        if not -_I64_OFFSET <= value < _I64_OFFSET:
            raise ValueError(
                f"lookup value {value!r} is outside the int64 range of "
                f"indexed column type {dtype}"
            )
        return format(value + _I64_OFFSET, "020d")
    from pyspark.sql.types import DateType

    if (
        isinstance(value, datetime.date)
        and not isinstance(value, datetime.datetime)
        and isinstance(dtype, DateType)
    ):
        return value.isoformat()
    probe = F.lit(value)
    if dtype is not None:
        probe = probe.cast(dtype)
    enc = spark.range(1).select(_encode_expr(probe, dtype)).first()[0]
    if enc is None:
        raise ValueError(
            f"lookup value {value!r} does not cast to indexed column "
            f"type {dtype}"
        )
    return enc


class StaleIndexError(RuntimeError):
    """The main table has committed past (or was replaced under) the
    index's build snapshot."""


def _cols(col) -> list[str]:
    """Normalize the ``col`` argument (one name or a list) to the
    indexed-column list."""
    cols = [col] if isinstance(col, str) else list(col)
    if not cols:
        raise ValueError("index needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate index columns: {cols}")
    reserved = {"idx_key", "ref_key"}
    bad = [c for c in cols if c in reserved]
    if bad:
        raise ValueError(
            f"column names {bad} collide with the index's own schema "
            f"(idx_key/ref_key); rename before indexing"
        )
    return cols


def _norm_col(col):
    """The manifest form of the ``col`` argument: a plain string for
    single-column indexes, a LIST for composites — so a caller's
    tuple/list spelling never breaks identity comparisons after the
    JSON round-trip (JSON has no tuples)."""
    cols = _cols(col)
    return cols[0] if len(cols) == 1 else cols


def _index_path(path: str, col) -> str:
    return path.rstrip("/") + _SUFFIX + "+".join(_cols(col))


def _key_expr(schema, cols: list[str], key: str):
    """The composite index key: ``enc(c1)\\x00enc(c2)\\x00...rowkey``.
    Every component ends with the separator, so a LEADING-prefix probe
    (fewer values than columns) is still a contiguous key range."""
    parts = []
    for c in cols:
        parts.append(_encode_expr(F.col(c), schema[c].dataType))
        parts.append(F.lit(_SEP))
    parts.append(F.col(key).cast("string"))
    return F.concat(*parts)


def create_index(
    spark: SparkSession,
    path: str,
    col,
    include: list[str] | None = None,
    n_buckets: int | None = None,
) -> None:
    """Build (or rebuild) the index for ``col`` (one column name or a
    list — a COMPOSITE index).  ``include`` names extra columns stored
    in-row (a COVERING index): lookups whose ``fields`` are all covered
    never touch the main table.  ``n_buckets`` sizes the index's own
    bucket count (default: cluster parallelism) — the index is usually
    much narrower than its main table, so size it to the index's
    bytes, not the table's."""
    cols = _cols(col)
    meta = _load_meta(path)
    key = meta["key"]
    # Pin the read to the version just captured: a concurrent main
    # commit between the meta load and the scan must not leave the
    # recorded stamp naming a version other than the data indexed.
    version = meta["version"]
    df = read_keyed(spark, path, generation=version)
    for c in cols:
        # rows with ANY null indexed component are not indexed
        # (SQL-index convention, extended componentwise)
        df = df.filter(F.col(c).isNotNull())
    include = list(include or [])
    missing = [c for c in include if c not in df.columns]
    if missing:
        raise ValueError(f"include columns not in table: {missing}")
    overlap = [c for c in include if c in cols or c == key]
    if overlap:
        raise ValueError(
            f"include must not repeat indexed columns or the key "
            f"{key!r} — both are always covered (got {overlap})"
        )
    # the reserved-name / duplicate checks _cols enforces for the
    # INDEXED columns apply to include too: include=["ref_key"] (or a
    # repeated entry) would put duplicate column names into the index
    # select and corrupt the index schema (r12 ADVICE)
    if len(set(include)) != len(include):
        raise ValueError(f"duplicate include columns: {include}")
    bad_inc = [c for c in include if c in {"idx_key", "ref_key"}]
    if bad_inc:
        raise ValueError(
            f"include columns {bad_inc} collide with the index's own "
            f"schema (idx_key/ref_key); rename before indexing"
        )
    for c in cols:
        if isinstance(df.schema[c].dataType, StringType):
            # Only the identity (string) encoding can carry the
            # separator; encoded integrals are digits, date/timestamp
            # are ISO.
            if df.filter(F.col(c).contains(_SEP)).limit(1).count():
                raise ValueError(
                    f"column {c!r} contains the index separator NUL; "
                    f"cannot build a prefix-ranged index"
                )
    idx = df.select(
        _key_expr(df.schema, cols, key).alias("idx_key"),
        *[F.col(c) for c in cols],
        F.col(key).cast("string").alias("ref_key"),
        *[F.col(c) for c in include],
    )
    ipath = _index_path(path, col)
    # The provenance stamp rides the index write's own atomic commit —
    # a separate post-write meta save would leave a stamp-less index
    # behind a crash between the two.
    write_keyed(
        idx, ipath, "idx_key", mode=SinkMode.REPLACE, n_buckets=n_buckets,
        meta_extra={
            "index_of": {
                "path": path, "col": _norm_col(col), "version": version,
                "table_id": meta.get("table_id"),
                "enc": _ENC, "include": include,
            }
        },
    )


def refresh_index(spark: SparkSession, path: str, col: str) -> None:
    """Bring the index current — INCREMENTALLY when the stamp proves
    it possible (r11): apply only the main table's changefeed since the
    stamped version, O(changed rows) instead of the full O(table)
    rebuild.  An update that does not touch the indexed column costs
    the index NOTHING — the null-safe value filter drops it before the
    merge — which is the difference between an index surviving a
    wide-table update storm at 100 TB and re-scanning the world.

    The delta: inserts/value-updates upsert ``<new value>\\x00<key>``,
    deletes/value-updates remove ``<old value>\\x00<key>`` (pre-images
    from ``changefeed_keyed(include_old=True)``); both sides land in
    ONE atomic ``apply_changefeed`` merge whose commit also carries
    the advanced stamp — a crash leaves the old (stamp, data) pair or
    the new one, never a half-refreshed index.  An index-silent
    interval still commits (the stamp must advance for
    ``index_lookup``'s freshness check).

    Falls back to a full rebuild (``create_index``) whenever increment
    cannot be proven: missing index, pre-incarnation-stamp index, a
    REPLACEd main table, a stamp below the readable horizon
    (retain/vacuum), or a pre-v2 key encoding — the same rebuild-signal
    taxonomy as the replica/matview twins, resolved here by just doing
    the rebuild (an index rebuild is self-contained; theirs are not).
    A covering index rebuilds with its stamped ``include`` list."""
    ipath = _index_path(path, col)
    try:
        info = _load_meta(ipath).get("index_of", {})
    except FileNotFoundError:
        return create_index(spark, path, col)
    include = info.get("include") or []
    meta = _load_meta(path)
    version = meta["version"]
    stamp_v = info.get("version")
    horizon = max(
        version - meta.get("retain", DEFAULT_RETAIN) + 1,
        meta.get("vacuum_horizon", 1),
    )
    if (
        info.get("table_id") is None
        or info.get("table_id") != meta.get("table_id")
        or info.get("enc") != _ENC
        or stamp_v is None
        or stamp_v < horizon
        or stamp_v > version
    ):
        return create_index(spark, path, col, include=include)
    if stamp_v == version:
        return  # already current — no commit
    feed = changefeed_keyed(
        spark, path, stamp_v, to_generation=version, include_old=True
    )
    batch = _index_delta(feed, meta["key"], col, include=include)
    apply_changefeed(
        spark, ipath, batch,
        meta_extra={
            "index_of": {
                "path": path, "col": _norm_col(col), "version": version,
                "table_id": meta.get("table_id"),
                "enc": _ENC, "include": include,
            }
        },
    )


def _index_delta(
    feed: DataFrame, key: str, col, include: list[str] | None = None
) -> DataFrame:
    """One changefeed interval (``include_old=True`` rows) as the index
    MERGE batch: upsert ``<encoded new values>\\x00<key>``, retract
    ``<encoded old values>\\x00<key>`` — shared by the scheduled
    ``refresh_index`` and the streaming maintainer
    (``streaming/ops.stream_index``).  Raises on NUL in a new STRING
    value (prefix-range safety; non-string encodings cannot emit NUL).

    Covering (``include``): upserts carry the post-image include
    columns; an update that moves ONLY an include column (indexed
    values unchanged) upserts the SAME composite key with the fresh
    payload — no retraction needed — so the covering payload never
    goes stale while staying index-silent on the retract side."""
    cols = _cols(col)
    include = list(include or [])
    is_upsert = F.col("_change").isin("insert", "update")
    is_delete = F.col("_change") == "delete"
    is_retract = F.col("_change").isin("update", "delete")
    # value-unchanged UPDATES are index-silent (null-safe: the index
    # treats null as not-indexed on both sides already).  DELETES must
    # retract UNCONDITIONALLY: a delete row carries the pre-delete
    # payload in-row, so new == old on it and a value-moved gate
    # would silently keep the dead entry — a later re-insert of the
    # key under a different value would then make the stale composite
    # key a FALSE lookup match (the semi-join sees the key alive).
    value_moved = F.lit(False)
    for c in cols:
        value_moved = value_moved | ~F.col(c).eqNullSafe(
            F.col("_before").getField(c)
        )
    payload_moved = value_moved
    for c in include:
        payload_moved = payload_moved | ~F.col(c).eqNullSafe(
            F.col("_before").getField(c)
        )

    def _enc_key(side: str):
        parts = []
        for c in cols:
            v = F.col(c) if side == "new" else F.col("_before").getField(c)
            parts.append(_encode_expr(v, feed.schema[c].dataType))
            parts.append(F.lit(_SEP))
        parts.append(F.col(key).cast("string"))
        return F.concat(*parts)

    def _row(side: str, change: str) -> DataFrame:
        if change == "update":
            gate = is_upsert & payload_moved
            vals = [F.col(c) for c in cols]
            extras = [F.col(c) for c in include]
        else:
            gate = is_retract & (value_moved | is_delete)
            vals = [F.col("_before").getField(c).alias(c) for c in cols]
            extras = [
                F.col("_before").getField(c).alias(c) for c in include
            ]
        for c in cols:
            v = F.col(c) if side == "new" else F.col("_before").getField(c)
            gate = gate & v.isNotNull()
        return (
            feed.filter(gate).select(
                _enc_key(side).alias("idx_key"),
                *vals,
                F.col(key).cast("string").alias("ref_key"),
                *extras,
                F.lit(change).alias("_change"),
            )
        )

    plus = _row("new", "update")
    for c in cols:
        if isinstance(feed.schema[c].dataType, StringType) and (
            plus.filter(F.col(c).contains(_SEP)).limit(1).count()
        ):
            raise ValueError(
                f"column {c!r} contains the index separator NUL; cannot "
                f"maintain a prefix-ranged index"
            )
    return plus.unionByName(_row("old", "delete"))


def _index_meta_commit(ipath: str, mutate) -> None:
    """Meta-only commit on the INDEX table (the ``set_ttl`` pattern):
    ``mutate(info)`` edits the ``index_of`` entry in place, version
    bumps, history snapshots."""
    with _writer_lock(ipath):
        meta = _load_meta(ipath)
        info = meta.get("index_of")
        if info is None:
            raise ValueError(f"{ipath} is not an index table")
        info = dict(info)
        mutate(info)
        meta["index_of"] = info
        _commit_meta(ipath, meta)


def attach_index_stream_stamp(path: str, col: str, checkpoint: str) -> None:
    """Stamp ``stream: {checkpoint, batch_id: -1}`` into the index's
    ``index_of`` entry at STREAM ATTACH time — the index twin of
    ``matview.attach_stream_stamp`` / ``replica.attach_replica_stream_
    stamp``: scheduled ``refresh_index`` commits are refused from the
    moment the stream owns the index (the ``write_keyed`` stream-stamp
    clobber guard), and every stream start can cross-check the
    checkpoint's planned offsets against the APPLIED stamp.
    Idempotent for the same checkpoint; a different one raises."""
    _attach_stream_stamp(
        _index_path(path, col), "index_of", checkpoint, StaleIndexError,
        "create_index",
    )


def drop_index(path: str, col: str) -> None:
    # through the control-plane seam: under a non-local plane a direct
    # rmtree would delete only the data dirs and leave the index's
    # manifest object alive — the index would still report exists()
    # while its generation dirs are gone (r09 review finding)
    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    get_control_plane().delete_tree_quiet(_index_path(path, col))


def _resolve(path: str, col: str, check_fresh: bool) -> tuple:
    """Shared lookup gates: missing index, foreign incarnation, stale
    key encoding, freshness.  Returns ``(ipath, info, main_meta)``."""
    ipath = _index_path(path, col)
    try:
        imeta = _load_meta(ipath)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no index on {col!r} for keyed table {path}; create_index first"
        ) from None
    info = imeta.get("index_of", {})
    main_meta = _load_meta(path)
    same_incarnation = info.get("table_id") == main_meta.get("table_id")
    if not same_incarnation:
        # REPLACE restarted the version counter: the stamp's version
        # names a DIFFERENT table's history, so neither a fresh nor a
        # point-in-time read is possible — always loud
        raise StaleIndexError(
            f"index on {col!r} was built against a previous incarnation "
            f"of {path} (the table was replaced); refresh_index()"
        )
    if info.get("enc") != _ENC:
        # stored composite keys use an older encoding: the probe's
        # encoded form would mis-range against them — never silently
        raise StaleIndexError(
            f"index on {col!r} was built with key-encoding "
            f"v{info.get('enc', 1)} but this engine ranges with "
            f"v{_ENC}; refresh_index() (resolves by rebuild)"
        )
    if check_fresh and info.get("version") != main_meta["version"]:
        raise StaleIndexError(
            f"index on {col!r} was built at table version "
            f"{info.get('version')} but the table is at "
            f"{main_meta['version']}; refresh_index() or pass "
            f"check_fresh=False for a point-in-time lookup"
        )
    return ipath, info, main_meta


def _col_type(main_meta: dict, col: str):
    schema_json = main_meta.get("schema")
    if schema_json:
        try:
            return StructType.fromJson(json.loads(schema_json))[col].dataType
        except (KeyError, ValueError):
            return None
    return None


def _serve(
    spark: SparkSession,
    path: str,
    col,
    info: dict,
    main_meta: dict,
    hits: DataFrame,
    fields: list[str] | None,
) -> DataFrame:
    """Resolve scanned index rows (``hits``) into the result: an
    INDEX-ONLY projection when every requested field is covered by the
    index row (key, indexed columns, include columns) — zero main-table
    bytes — else a semi-join of the row keys into the main table
    pinned at the stamped version."""
    key = main_meta["key"]
    cols = _cols(col)
    if fields is not None and not main_meta.get("ttl"):
        # Index-only reads are refused under a row-TTL policy: expiry
        # is enforced as a read-time filter on the MAIN table
        # (table._ttl_filter), which an index-only projection would
        # bypass — a covering lookup on a TTL table would serve
        # expired rows.  The semi-join path below stays correct (the
        # main-table read applies the filter), just not index-only.
        covered = {key, *cols, *(info.get("include") or [])}
        if set(fields) <= covered:
            key_t = _col_type(main_meta, key)
            key_expr = (
                F.col("ref_key").cast(key_t).alias(key)
                if key_t is not None else F.col("ref_key").alias(key)
            )
            return hits.select(
                *[key_expr if f == key else F.col(f) for f in fields]
            )
    keys = hits.select("ref_key")
    # ALWAYS pin to the stamped version — when fresh it equals the
    # version the freshness check just approved, and pinning closes
    # the race where a commit lands between that check and the read
    # (the v5 index's keys semi-joined into a v6 table would return
    # rows whose indexed value no longer matches the lookup).
    main = read_keyed(spark, path, generation=info.get("version"))
    # Under AQE (the default), no forced broadcast hint: the key set
    # broadcasts at runtime when small (the common selective lookup)
    # and a hot value matching millions of rows degrades to a shuffled
    # semi-join instead of OOMing.  With AQE disabled there is no
    # runtime re-plan, and an unhinted semi-join would shuffle the
    # ENTIRE main table for one lookup — keep the broadcast hint then.
    aqe = str(
        spark.conf.get("spark.sql.adaptive.enabled", "true")
    ).lower() == "true"
    out = main.join(
        keys if aqe else F.broadcast(keys),
        main[key].cast("string") == keys["ref_key"],
        "left_semi",
    )
    return out.select(*fields) if fields is not None else out


def _encode_probe_prefix(
    spark: SparkSession, main_meta: dict, cols: list[str], values
) -> str:
    """Encode a LEADING tuple of probe values (1..len(cols)) into the
    composite-key prefix ``enc(v1)\\x00enc(v2)\\x00...`` — each
    component through its own column type, exactly as stored."""
    vals = list(values) if isinstance(values, (list, tuple)) else [values]
    if not 1 <= len(vals) <= len(cols):
        raise ValueError(
            f"lookup takes 1..{len(cols)} leading values for index "
            f"columns {cols}, got {len(vals)}"
        )
    out = []
    for c, v in zip(cols, vals):
        if v is None:
            raise ValueError(
                f"index on {cols} does not cover NULL in {c!r} (nulls "
                f"are not indexed, SQL-index convention); filter the "
                f"main table"
            )
        out.append(_encode_value(spark, v, _col_type(main_meta, c)))
        out.append(_SEP)
    return "".join(out)


def index_lookup(
    spark: SparkSession,
    path: str,
    col,
    value,
    check_fresh: bool = True,
    fields: list[str] | None = None,
) -> DataFrame:
    """Main-table rows where the indexed column(s) equal ``value``,
    resolved through the index: a bucket-pruned range scan of the
    encoded-value prefix, then a semi-join of the matching row keys
    into the main table — or, when ``fields`` are all covered (the
    key, the indexed columns, and the index's ``include`` list), an
    INDEX-ONLY projection that never touches the main table.

    For a COMPOSITE index, ``value`` is a tuple: the full tuple is an
    exact match; a SHORTER tuple matches on the leading columns (the
    B-tree leading-prefix rule) — still one contiguous key-range scan.

    ``check_fresh=False`` is a point-in-time lookup: it resolves
    against the main-table SNAPSHOT the index was built from, so the
    result honors the documented contract even when later commits
    rewrote an indexed row to a different value.  It raises loudly if
    that snapshot has fallen out of the main table's retention."""
    ipath, info, main_meta = _resolve(path, col, check_fresh)
    cols = _cols(col)
    # The prefix must be the SAME encoded form the index keys were
    # built with (``_encode_expr`` through each COLUMN's type).  A
    # Python literal's inferred type is not enough (Decimal('1.5')
    # infers decimal(2,1) -> '1.5' while a decimal(10,2) column stored
    # '1.50'; 1 infers bigint while a double column stored '1.0').
    if len(cols) == 1 and isinstance(value, (list, tuple)):
        value = list(value)  # allow 1-tuples uniformly
    prefix = _encode_probe_prefix(spark, main_meta, cols, value)
    # Every matching key extends the prefix (which ends with \x00), so
    # the tight exclusive upper bound flips that trailing separator to
    # \x01 — correct for any rowkey / deeper-component content (a
    # \uffff sentinel would drop content starting with a code point
    # above U+FFFF).
    hits = read_keyed(
        spark, ipath, start=prefix, stop=prefix[:-1] + "\x01"
    )
    return _serve(spark, path, col, info, main_meta, hits, fields)


def index_range_lookup(
    spark: SparkSession,
    path: str,
    col,
    lower=None,
    upper=None,
    include_lower: bool = True,
    include_upper: bool = True,
    check_fresh: bool = True,
    fields: list[str] | None = None,
    prefix=(),
) -> DataFrame:
    """Main-table rows where the indexed column is in the given range,
    resolved through the index as ONE composite-key range scan —
    bucket-dir and row-group pruned to O(matching rows), the secondary
    range scan HBase users hand-build with OrderedBytes-encoded
    rowkeys.  Either bound may be None (open).  Requires an
    order-preserving value encoding for the RANGED column (string /
    boolean / integral / date / timestamp / decimal up to precision
    35); float columns (and wider decimals) refuse — their CAST-string
    form is not ordered — with the main table's zone maps as the scale
    path instead (``read_keyed(zone_filter=...)``).

    TimestampType ranges are served through the v4 INSTANT encoding
    (unix micros): bounds and stored keys are independent of
    ``spark.sql.session.timeZone`` and monotone across DST folds.  A
    NAIVE datetime bound is interpreted in the current session
    timezone, exactly as Spark interprets the same literal in a
    filter; pass an aware datetime for a timezone-pinned bound.

    For a COMPOSITE index, ``prefix`` gives equality values for the
    LEADING columns and the range applies to the NEXT column — the
    classic ``a = ? AND b BETWEEN ? AND ?`` composite-index shape,
    still one contiguous scan.  Skipping a column is not served (the
    B-tree rule).

    Bound-to-key mapping (keys are ``<pfx><enc(v)>\\x00<rest>``; the
    scan is ``[start, stop)``): inclusive lower ->
    ``pfx + enc(lower)\\x00`` (first possible key of that value),
    exclusive lower -> ``pfx + enc(lower)\\x01`` (just past every key
    of that value); inclusive upper -> ``pfx + enc(upper)\\x01``,
    exclusive upper -> ``pfx + enc(upper)\\x00``; an open bound falls
    back to the prefix region's own edge.

    ``fields`` covered by the index (key / indexed columns / include
    list) serve INDEX-ONLY, like ``index_lookup``."""
    ipath, info, main_meta = _resolve(path, col, check_fresh)
    cols = _cols(col)
    pvals = list(prefix) if isinstance(prefix, (list, tuple)) else [prefix]
    if len(pvals) >= len(cols):
        raise ValueError(
            f"prefix covers all {len(cols)} index columns — nothing "
            f"left to range over; use index_lookup for full-tuple "
            f"equality"
        )
    range_col = cols[len(pvals)]
    dtype = _col_type(main_meta, range_col)
    if dtype is None or not _orderable(dtype):
        raise ValueError(
            f"index_range_lookup needs an order-preserving key encoding "
            f"and column {range_col!r} is {dtype} (string/boolean/"
            f"integral/date/timestamp/decimal(p<={_DEC_MAX_P}) only); "
            f"use the main table's zone maps "
            f"(read_keyed(zone_filter=...)) for float ranges"
        )
    base = (
        _encode_probe_prefix(spark, main_meta, cols, pvals) if pvals else ""
    )
    start = base or None
    stop = (base[:-1] + "\x01") if base else None
    if lower is not None:
        enc_lo = _encode_value(spark, lower, dtype)
        start = base + enc_lo + (_SEP if include_lower else "\x01")
    if upper is not None:
        enc_hi = _encode_value(spark, upper, dtype)
        stop = base + enc_hi + ("\x01" if include_upper else _SEP)
    hits = read_keyed(spark, ipath, start=start, stop=stop)
    return _serve(spark, path, col, info, main_meta, hits, fields)


def index_in_lookup(
    spark: SparkSession,
    path: str,
    col,
    values,
    check_fresh: bool = True,
    fields: list[str] | None = None,
) -> DataFrame:
    """Main-table rows where the indexed column(s) match ANY of
    ``values`` (``WHERE col IN (...)``): one tight prefix range scan
    per distinct probe value, unioned — each scan bucket-dir and
    row-group pruned like a single lookup, so the cost is
    O(sum of matching rows), never a full scan.  For a COMPOSITE
    index each value may be a leading tuple (the same rule as
    ``index_lookup``).  Meant for the small IN-lists queries actually
    ship (tens of values — one range scan each); for a large probe
    SET, semi-join the main table against a DataFrame instead.

    ``fields`` covered by the index serve INDEX-ONLY, like the other
    lookups."""
    ipath, info, main_meta = _resolve(path, col, check_fresh)
    cols = _cols(col)
    vals = list(values)
    if not vals:
        raise ValueError("index_in_lookup needs at least one value")
    # Drop any probe prefix that EXTENDS another selected prefix (for
    # a composite index, ("a",) subsumes ("a", 5)): the shorter prefix
    # already scans the longer one's whole key range, so keeping both
    # would scan overlapping ranges and return duplicate rows on the
    # index-only path (r12 ADVICE).  Sorted order puts every extension
    # right after some prefix it extends, so checking the last KEPT
    # prefix is a complete linear pass.
    kept: list[str] = []
    for pfx in sorted({
        _encode_probe_prefix(spark, main_meta, cols, v) for v in vals
    }):
        if kept and pfx.startswith(kept[-1]):
            continue
        kept.append(pfx)
    hits = None
    for pfx in kept:
        h = read_keyed(spark, ipath, start=pfx, stop=pfx[:-1] + "\x01")
        hits = h if hits is None else hits.unionByName(h)
    return _serve(spark, path, col, info, main_meta, hits, fields)
