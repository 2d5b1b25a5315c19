"""Incremental materialized aggregate views over keyed tables.

The reference's users kept continuously-updated rollups by re-running a
Cascading flow over the whole HBase table (`MultiFamilyCascadeHBaseTest`
re-reads everything per cascade run).  At 100 TB a full re-aggregate per
refresh is the difference between minutes and seconds — the scalable
form is incremental view maintenance (IVM): consume the base table's
changefeed since the last refresh and apply per-group DELTAS.

Supported aggregates: COUNT and SUM — the self-maintainable ones
(retractable under deletes without re-reading the group) — plus MIN and
MAX with an honest hybrid: inserts maintain extrema incrementally
(``least``/``greatest`` against the current value), and a retraction
that could have removed the extremum (retracted value <= current MIN /
>= current MAX) triggers a re-aggregate of THAT GROUP ONLY from the
base snapshot — never a full re-scan.  AVG is ``sum/n`` at query time.

Dtype contract (r11): aggregates over INTEGRAL source columns are
maintained in BIGINT — exact where a double accumulator silently loses
integer exactness past 2^53 (a 100 TB integer-cents total exceeds
that; the house integer-cents rule must hold through incremental
views).  Floating and decimal sources accumulate in DOUBLE.  The
per-output choice is pinned in the manifest at create time (``acc``)
so the view schema never drifts across refreshes; views created
before the contract keep their all-double schema.  Long SUMs inherit
Spark's non-ANSI wrap past int64 — see ``_acc_type``.

Exactly-once: the refresh cursor (the base generation last applied)
lives in the view table's own manifest and is committed via
``write_keyed(meta_extra=...)`` — the SAME atomic manifest flip as the
view data.  A crash anywhere leaves either the old (cursor, data) pair
or the new one, never a half-applied refresh; replaying a refresh is
therefore always safe.

Cost per refresh: one changefeed join (O(rows at the two base
snapshots)), one delta aggregate (O(changed rows)), one keyed merge
touching only the buckets of CHANGED groups.  Unchanged groups are
never read or rewritten.

Groups whose count reaches zero remain as ``n_rows = 0`` tombstone
rows (a keyed APPEND cannot also delete in the same atomic commit);
``read_aggregate_view`` filters them and a ``compact_keyed`` on the
view physically drops nothing extra — they are a bounded artifact of
group churn, reclaimable by ``rebuild``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cascading_hbase_spark.keyed.table import (
    DEFAULT_RETAIN,
    SinkMode,
    _attach_stream_stamp,
    _load_meta,
    changefeed_keyed,
    read_keyed,
    write_keyed,
)

__all__ = [
    "StaleViewError",
    "create_aggregate_view",
    "refresh_aggregate_view",
    "apply_sum_delta",
    "attach_stream_stamp",
    "read_aggregate_view",
]


class StaleViewError(RuntimeError):
    """The view's cursor generation has been garbage-collected from the
    base table's history (refresh lag exceeded the base's ``retain``);
    the delta can no longer be computed.  Rebuild with
    ``create_aggregate_view``."""


def _reject_token_aggregation(
    token: str | None,
    group_col: str,
    sums: dict[str, str],
    mins: dict[str, str],
    maxs: dict[str, str],
    view_path: str,
) -> None:
    """An aggregate over the base's registered version-token column can
    never be maintained incrementally: token-only rewrites produce an
    EMPTY changefeed by contract (the token is excluded from change
    detection), so the view would silently diverge from a recompute.
    Refuse — at creation and again at every refresh, because the
    registration can change after the view exists."""
    if not token:
        return
    srcs = {group_col, *sums.values(), *mins.values(), *maxs.values()}
    if token in srcs:
        raise ValueError(
            f"aggregate view {view_path} groups by or aggregates the "
            f"base's registered version-token column {token!r}; "
            f"token-only rewrites are invisible to the changefeed, so "
            f"the view cannot be maintained incrementally — drop the "
            f"token from the view, or deregister it (seq_col='')"
        )


def _acc_type(df: DataFrame, src: str) -> str:
    """Accumulator SQL type for one aggregate source column: BIGINT
    when the source is integral (byte/short/int/long — SUM/MIN/MAX over
    longs stays exact where double degrades past 2^53), DOUBLE for
    everything else (float/double/decimal — decimal deliberately
    routes to double: Spark widens decimal SUM precision by input
    count, so a decimal accumulator's dtype would drift across
    refreshes)."""
    from pyspark.sql.types import IntegralType

    return (
        "bigint"
        if isinstance(df.schema[src].dataType, IntegralType)
        else "double"
    )


def create_aggregate_view(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    group_col: str,
    sums: dict[str, str] | None = None,
    n_buckets: int | None = None,
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
) -> None:
    """(Re)build the view from the base's CURRENT snapshot: per
    ``group_col``, ``n_rows`` plus one SUM column per ``sums`` entry,
    one MIN per ``mins`` and one MAX per ``maxs`` (each
    ``{out_name: source_col}``).  Rows with a null group are excluded
    (a keyed table cannot key on null), matching SQL GROUP BY over a
    non-null key."""
    sums, mins, maxs = sums or {}, mins or {}, maxs or {}
    outs = list(sums) + list(mins) + list(maxs)
    if (
        len(set(outs)) != len(outs)
        or "n_rows" in outs
        or group_col in outs
        # refresh builds _dn/_rescan and _cur_/_ins_/_ret_/_x_/_re_
        # temporaries; an underscore-leading output would collide there
        # AFTER the view was created — refuse at create time instead
        or any(o.startswith("_") for o in outs)
    ):
        raise ValueError(
            f"aggregate output names must be unique, must not start with "
            f"'_' (reserved for refresh internals), and must not collide "
            f"with n_rows/{group_col}: {outs}"
        )
    base_meta = _load_meta(base_path)
    base_version = base_meta["version"]
    _reject_token_aggregation(
        base_meta.get("seq_col"), group_col, sums, mins, maxs, view_path,
    )
    # Pin the read to the version just captured: a base commit landing
    # between the two lines must not slip into the view while the
    # cursor records the older version (the first refresh would then
    # double-apply that commit's delta).
    base = read_keyed(spark, base_path, generation=base_version)
    # Accumulator dtype is DECIDED AT CREATE TIME from the base schema
    # and recorded in the manifest ("acc"), so the view's schema never
    # drifts across refreshes: integral sources accumulate in BIGINT
    # (exact — a double SUM silently loses exactness past 2^53, which
    # a 100 TB integer-cents total exceeds; the house integer-cents
    # rule must hold THROUGH incremental views), everything else in
    # DOUBLE.  Overflow contract: Spark's non-ANSI long SUM wraps past
    # int64 (~9.2e18) — two orders of magnitude beyond a 100 TB cents
    # total; a corpus that genuinely exceeds it needs a decimal view,
    # which this module does not offer.
    acc = {
        out: _acc_type(base, src)
        for out, src in {**sums, **mins, **maxs}.items()
    }
    aggs = (
        [F.count("*").cast("bigint").alias("n_rows")]
        + [
            F.sum(
                F.coalesce(F.col(src).cast(acc[out]), F.lit(0).cast(acc[out]))
            ).cast(acc[out]).alias(out)
            for out, src in sums.items()
        ]
        + [F.min(F.col(src).cast(acc[out])).alias(out) for out, src in mins.items()]
        + [F.max(F.col(src).cast(acc[out])).alias(out) for out, src in maxs.items()]
    )
    view = (
        base.filter(F.col(group_col).isNotNull()).groupBy(group_col).agg(*aggs)
    )
    write_keyed(
        view,
        view_path,
        group_col,
        mode=SinkMode.REPLACE,
        n_buckets=n_buckets,
        meta_extra={
            "matview": {
                "base": base_path,
                # base_id pins the base INCARNATION: REPLACE restarts
                # the version counter, so a later refresh must not diff
                # the new table's history against a cursor that names
                # the dead one (mirrors the replica's of_id)
                "base_id": base_meta.get("table_id"),
                "group": group_col,
                "sums": sums,
                "mins": mins,
                "maxs": maxs,
                # per-output accumulator dtype, pinned at create time
                # (pre-r11 views lack the entry; refresh defaults them
                # to the historical all-double behavior)
                "acc": acc,
                "base_version": base_version,
            }
        },
    )


def refresh_aggregate_view(
    spark: SparkSession, base_path: str, view_path: str
) -> bool:
    """Apply the base table's changes since the last refresh to the
    view.  Returns False if the view was already current.  One atomic
    commit: the new cursor and the new aggregates land together."""
    meta = _load_meta(view_path)
    mv = meta.get("matview")
    if mv is None:
        raise ValueError(f"{view_path} is not an aggregate view")
    cursor = mv["base_version"]
    if mv.get("stream") is not None:
        # The stream checkpoint — not this manifest's cursor — is the
        # authoritative position of a stream-maintained view
        # (streaming/ops.stream_matview): a scheduled refresh diffing
        # from the stale cursor would re-apply every delta the
        # checkpoint has already merged.  SUM deltas are not
        # idempotent, so this is corruption, not waste — refuse.
        raise StaleViewError(
            f"view {view_path} is stream-maintained (checkpoint "
            f"{mv['stream'].get('checkpoint')!r}); a scheduled refresh "
            f"would double-apply merged batches — keep using "
            f"stream_matview, or rebuild with create_aggregate_view"
        )
    base_meta = _load_meta(base_path)
    base_version = base_meta["version"]
    if (
        mv.get("base_id") is not None
        and mv["base_id"] != base_meta.get("table_id")
    ):
        # REPLACE restarted the base's version counter: the cursor
        # names a dead incarnation's history — the new table reaching
        # (or passing) the cursor's number must never read as "current"
        # (or diff two unrelated histories).  Mirrors sync_replica.
        raise StaleViewError(
            f"base table {base_path} was replaced since the view was "
            f"built; rebuild with create_aggregate_view"
        )
    if mv.get("base_id") is None:
        # Pre-incarnation-stamp view: the cursor NUMBER alone cannot
        # prove which incarnation it names, so it must never reach the
        # diff — and not even cursor == base_version is safe to adopt:
        # a REPLACEd base whose new incarnation's version count happens
        # to equal the cursor would stamp a STALE view with the new
        # table_id and report it current (r10 ADVICE; supersedes the
        # r09 stamp-when-current rule; mirrors sync_replica).  Whenever
        # the base carries a table_id, the rebuild signal is the only
        # provably-safe answer — and the every-commit table_id backfill
        # makes it one-time.  A base with NO table_id (never committed
        # under stamping code) leaves nothing to prove lineage against
        # either way: the current-cursor case reports current with the
        # coincidence window explicitly accepted (it closes at the
        # base's next commit, which backfills the id).
        if base_meta.get("table_id") is None and cursor == base_version:
            return False
        raise StaleViewError(
            f"view {view_path} predates incarnation stamping (cursor "
            f"{cursor}, base version {base_version}); the cursor alone "
            f"cannot prove the base was not replaced — rebuild with "
            f"create_aggregate_view"
        )
    if base_version == cursor:
        return False
    # The readable horizon is the newer of the retain window and the
    # last vacuum's recorded horizon — the exact rule _meta_at
    # enforces; checking only retain would let a vacuumed-away cursor
    # reach the diff and die with FileNotFoundError instead of the
    # documented rebuild signal.  cursor > base_version is the same
    # story for a rolled-back-and-replaced history.
    horizon = max(
        base_version - base_meta.get("retain", DEFAULT_RETAIN) + 1,
        base_meta.get("vacuum_horizon", 1),
    )
    if cursor < horizon or cursor > base_version:
        raise StaleViewError(
            f"base generation {cursor} is no longer retained at "
            f"{base_path} (readable horizon {horizon}, version "
            f"{base_version}); rebuild the view with create_aggregate_view"
        )
    group, sums = mv["group"], mv["sums"]
    mins, maxs = mv.get("mins", {}), mv.get("maxs", {})
    # Accumulator dtypes pinned at create time; a pre-r11 view has no
    # "acc" entry and keeps its historical all-double schema — the
    # refresh must match whatever schema the view was created with.
    _acc = mv.get("acc") or {}
    acc = {
        o: _acc.get(o, "double") for o in [*sums, *mins, *maxs]
    }
    # the registration may have LANDED after the view was created; the
    # feed below is pinned to base_version, whose registration is the
    # one this manifest (just loaded at that version) records
    _reject_token_aggregation(
        base_meta.get("seq_col"), group, sums, mins, maxs, view_path,
    )
    exts = {**mins, **maxs}
    base_key = base_meta["key"]
    # Pin BOTH ends of the diff: to_generation=base_version (not "the
    # manifest whenever the read resolves") — otherwise a concurrent
    # base commit gets applied to the view but the cursor records the
    # older version and the next refresh double-applies it.
    try:
        feed = changefeed_keyed(
            spark, base_path, cursor, to_generation=base_version, include_old=True
        )
    except FileNotFoundError as e:
        # Belt over the horizon gate: ANY unreadable-cursor case the
        # gate's re-derivation misses (e.g. a manifest-log prune on a
        # deep-retain table) still surfaces as the documented rebuild
        # signal instead of a raw I/O error from inside the diff.
        raise StaleViewError(
            f"base generation {cursor} is unreadable at {base_path} "
            f"({e}); rebuild the view with create_aggregate_view"
        ) from e

    def _side(df: DataFrame, sign: int, col_of) -> DataFrame:
        return df.select(
            col_of(group).alias(group),
            F.lit(sign).cast("bigint").alias("_dn"),
            *[
                (
                    F.lit(sign).cast(acc[out])
                    * F.coalesce(
                        col_of(src).cast(acc[out]), F.lit(0).cast(acc[out])
                    )
                ).alias(out)
                for out, src in sums.items()
            ],
            # MIN/MAX travel unsigned: the delta aggregate separates
            # inserted-side and retracted-side extrema by _dn
            *[
                col_of(src).cast(acc[out]).alias(f"_x_{out}")
                for out, src in exts.items()
            ],
        )

    def _before(c: str):
        # The _before struct holds every non-key column's pre-image; the
        # base KEY itself is identical pre/post by construction.
        return F.col(c) if c == base_key else F.col("_before").getField(c)

    # Post-change rows add their contribution; pre-change rows retract
    # theirs.  An update appears on both sides (its group may even have
    # changed); the union nets out per group.
    plus = _side(
        feed.filter(F.col("_change").isin("insert", "update")), 1, F.col
    )
    minus = _side(
        feed.filter(F.col("_change").isin("update", "delete")), -1, _before
    )
    ins = F.col("_dn") == 1
    ret = F.col("_dn") == -1
    delta = (
        plus.unionByName(minus)
        .filter(F.col(group).isNotNull())
        .groupBy(group)
        .agg(
            F.sum("_dn").alias("_dn"),
            *[F.sum(out).cast(acc[out]).alias(out) for out in sums],
            *[F.min(F.when(ins, F.col(f"_x_{o}"))).alias(f"_ins_{o}") for o in mins],
            *[F.min(F.when(ret, F.col(f"_x_{o}"))).alias(f"_ret_{o}") for o in mins],
            *[F.max(F.when(ins, F.col(f"_x_{o}"))).alias(f"_ins_{o}") for o in maxs],
            *[F.max(F.when(ret, F.col(f"_x_{o}"))).alias(f"_ret_{o}") for o in maxs],
        )
    )
    current = read_keyed(spark, view_path)
    cur = current.select(
        F.col(group),
        F.col("n_rows").alias("_cur_n"),
        *[F.col(out).alias(f"_cur_{out}") for out in list(sums) + list(exts)],
    )
    # A retraction can only invalidate an extremum if the retracted
    # value ties-or-beats it; such groups (alone) re-aggregate from the
    # base snapshot below.  Inserts maintain incrementally.
    rescan = F.lit(False)
    for o in mins:
        rescan = rescan | (
            F.col(f"_ret_{o}").isNotNull()
            & (F.col(f"_cur_{o}").isNull() | (F.col(f"_ret_{o}") <= F.col(f"_cur_{o}")))
        )
    for o in maxs:
        rescan = rescan | (
            F.col(f"_ret_{o}").isNotNull()
            & (F.col(f"_cur_{o}").isNull() | (F.col(f"_ret_{o}") >= F.col(f"_cur_{o}")))
        )
    merged = delta.join(cur, group, "left").select(
        F.col(group),
        (F.coalesce(F.col("_cur_n"), F.lit(0)) + F.col("_dn"))
        .cast("bigint")
        .alias("n_rows"),
        *[
            (
                F.coalesce(F.col(f"_cur_{out}"), F.lit(0).cast(acc[out]))
                + F.col(out)
            ).cast(acc[out]).alias(out)
            for out in sums
        ],
        # least/greatest skip nulls, so a new group (cur NULL) or a
        # no-insert refresh (ins NULL) falls through to the other side
        *[F.least(F.col(f"_cur_{o}"), F.col(f"_ins_{o}")).alias(o) for o in mins],
        *[F.greatest(F.col(f"_cur_{o}"), F.col(f"_ins_{o}")).alias(o) for o in maxs],
        rescan.alias("_rescan"),
    )
    cached = None
    if exts:
        # delta-sized relation (changed groups only); persisted because
        # both the rescan-group listing and the final merge read it
        cached = merged = merged.persist()
        rg = merged.filter("_rescan").select(group)
        base_now = read_keyed(spark, base_path, generation=base_version)
        recomputed = (
            base_now.join(F.broadcast(rg), group)
            .groupBy(group)
            .agg(
                *[F.min(F.col(src).cast(acc[o])).alias(f"_re_{o}") for o, src in mins.items()],
                *[F.max(F.col(src).cast(acc[o])).alias(f"_re_{o}") for o, src in maxs.items()],
            )
        )
        merged = merged.join(recomputed, group, "left").select(
            F.col(group),
            F.col("n_rows"),
            *[F.col(out) for out in sums],
            # a rescan group whose rows all vanished recomputes to no
            # row at all -> NULL extremum, which is the correct answer
            *[
                F.when(F.col("_rescan"), F.col(f"_re_{o}")).otherwise(F.col(o)).alias(o)
                for o in exts
            ],
        )
    else:
        merged = merged.drop("_rescan")
    write_keyed(
        merged,
        view_path,
        group,
        mode=SinkMode.APPEND,
        meta_extra={"matview": {
            **mv,
            "base_version": base_version,
            # invariant re-stamp: the None-base_id gate above means any
            # view reaching the diff already carries this id
            "base_id": base_meta.get("table_id"),
        }},
    )
    if cached is not None:
        # the write above materialized everything; repeated refreshes
        # must not accumulate cache entries (each refresh has a new plan)
        cached.unpersist()
    return True


def attach_stream_stamp(view_path: str, checkpoint: str) -> None:
    """Stamp ``stream: {checkpoint, batch_id: -1}`` into the view
    manifest at STREAM ATTACH time — a meta-only commit (the ``set_ttl``
    pattern: no data moves, version bumps, history snapshots).

    Closes the maintenance-mode TOCTOU window (r11 ADVICE): without
    it, ``refresh_aggregate_view`` is only refused once the stream's
    FIRST non-empty batch writes the stamp, so a scheduled refresh
    racing the gap would advance the cursor and apply the same
    interval the stream's first batch then folds AGAIN — silent SUM
    double-apply, the exact corruption the one-mode rule exists to
    prevent.  With the attach stamp, the refusal holds from the moment
    the stream is attached.

    ``batch_id=-1`` is safe: ``apply_sum_delta`` treats ``batch_id <=
    stamp`` as replay and every real micro-batch id is >= 0, and the
    checkpoint cross-check gates in ``stream_matview`` already handle
    a -1 stamp (nothing applied yet — the seed cursor is the
    authority).  Idempotent for the same checkpoint; a different one
    raises (same per-checkpoint exclusivity as ``apply_sum_delta``).
    A refresh already IN FLIGHT when the stamp lands (read its cursor
    before, commits after) can still clobber it — the one-mode rule
    remains the deployment contract; this stamp closes the scheduled-
    refresh-after-attach ordering, the common race."""
    _attach_stream_stamp(
        view_path, "matview", checkpoint, StaleViewError, "create_aggregate_view"
    )


def apply_sum_delta(
    spark: SparkSession,
    view_path: str,
    feed: DataFrame,
    checkpoint: str,
    batch_id: int,
    end_version: int | None = None,
) -> bool:
    """Apply ONE changefeed micro-batch (rows tagged ``_change``, with
    ``_before`` pre-images) to an aggregate view — the engine half of
    ``streaming/ops.stream_matview``.

    Exactly-once WITHOUT merge idempotence: a SUM delta applied twice
    corrupts (unlike the replica's LWW merge), so each application
    stamps ``(checkpoint, batch_id)`` into the view manifest in the
    SAME atomic commit as the data.  Spark replays a failed-or-
    uncommitted micro-batch under the SAME batch_id with the SAME
    offset range (and generations are immutable, so the same rows);
    a replay of an already-stamped batch returns False and writes
    nothing.  A DIFFERENT checkpoint raises: its batch numbering
    restarts at 0 while the view already contains later batches —
    offsets the new checkpoint would re-plan — and there is no way to
    prove which deltas landed; rebuild the view (or reuse the original
    checkpoint).

    MIN/MAX views (r12): extremum retraction needs a re-aggregate of
    the retraction-threatened groups pinned to the diff's END
    snapshot — reading the base's CURRENT snapshot instead would fold
    future commits' rows into this batch's extrema.  ``foreachBatch``
    cannot see its offset range, but the stream checkpoint's
    write-ahead log CAN name it: ``stream_matview`` recovers the
    batch's end offset (a base manifest version) via ``_walled_end``
    and passes it here as ``end_version``.  Without it (``None``),
    extrema views are refused exactly as before — scheduled
    ``refresh_aggregate_view`` pins both ends itself.  The caller is
    responsible for the incarnation gate (``stream_matview`` checks
    base identity at start AND before every merge): ``end_version``
    only names a version within the CURRENT incarnation's history."""
    meta = _load_meta(view_path)
    mv = meta.get("matview")
    if mv is None:
        raise ValueError(f"{view_path} is not an aggregate view")
    mins, maxs = mv.get("mins") or {}, mv.get("maxs") or {}
    exts = {**mins, **maxs}
    if exts and end_version is None:
        raise ValueError(
            f"view {view_path} maintains MIN/MAX columns; extremum "
            f"retraction needs a group re-aggregate pinned to the "
            f"diff's end snapshot — pass end_version (stream_matview "
            f"recovers it from the checkpoint WAL) or use scheduled "
            f"refresh_aggregate_view"
        )
    st = mv.get("stream")
    if st is not None and st.get("checkpoint") != checkpoint:
        raise StaleViewError(
            f"view {view_path} is maintained under checkpoint "
            f"{st.get('checkpoint')!r}; batch numbering is per-"
            f"checkpoint, so deltas applied under a different one "
            f"cannot be proven exactly-once — rebuild with "
            f"create_aggregate_view and a fresh checkpoint"
        )
    if st is not None and batch_id <= st.get("batch_id", -1):
        return False  # replayed batch: already atomically applied
    group, sums = mv["group"], mv["sums"]
    _acc = mv.get("acc") or {}
    acc = {o: _acc.get(o, "double") for o in [*sums, *exts]}
    if "_before" not in feed.columns:
        raise ValueError(
            "apply_sum_delta needs pre-images to retract updates: pass "
            "a feed built with include_old=True (changefeed_keyed or "
            "read_changefeed_stream)"
        )
    before_fields = set(
        feed.schema["_before"].dataType.fieldNames()
    )

    def _before(c: str):
        # the base KEY is identical pre/post by construction and is the
        # one column the pre-image struct omits
        return (
            F.col("_before").getField(c) if c in before_fields else F.col(c)
        )

    def _side(df: DataFrame, sign: int, col_of) -> DataFrame:
        return df.select(
            col_of(group).alias(group),
            F.lit(sign).cast("bigint").alias("_dn"),
            *[
                (
                    F.lit(sign).cast(acc[out])
                    * F.coalesce(
                        col_of(src).cast(acc[out]), F.lit(0).cast(acc[out])
                    )
                ).alias(out)
                for out, src in sums.items()
            ],
            # MIN/MAX travel unsigned: the delta aggregate separates
            # inserted-side and retracted-side extrema by _dn
            *[
                col_of(src).cast(acc[out]).alias(f"_x_{out}")
                for out, src in exts.items()
            ],
        )

    plus = _side(
        feed.filter(F.col("_change").isin("insert", "update")), 1, F.col
    )
    minus = _side(
        feed.filter(F.col("_change").isin("update", "delete")), -1, _before
    )
    ins = F.col("_dn") == 1
    ret = F.col("_dn") == -1
    delta = (
        plus.unionByName(minus)
        .filter(F.col(group).isNotNull())
        .groupBy(group)
        .agg(
            F.sum("_dn").alias("_dn"),
            *[F.sum(out).cast(acc[out]).alias(out) for out in sums],
            *[F.min(F.when(ins, F.col(f"_x_{o}"))).alias(f"_ins_{o}") for o in mins],
            *[F.min(F.when(ret, F.col(f"_x_{o}"))).alias(f"_ret_{o}") for o in mins],
            *[F.max(F.when(ins, F.col(f"_x_{o}"))).alias(f"_ins_{o}") for o in maxs],
            *[F.max(F.when(ret, F.col(f"_x_{o}"))).alias(f"_ret_{o}") for o in maxs],
        )
    )
    cur = read_keyed(spark, view_path).select(
        F.col(group),
        F.col("n_rows").alias("_cur_n"),
        *[
            F.col(out).alias(f"_cur_{out}")
            for out in list(sums) + list(exts)
        ],
    )
    # A retraction can only invalidate an extremum if the retracted
    # value ties-or-beats it; such groups (alone) re-aggregate from
    # the base AT THE BATCH'S END SNAPSHOT below.  Inserts maintain
    # incrementally.  (Same rule as refresh_aggregate_view.)
    rescan = F.lit(False)
    for o in mins:
        rescan = rescan | (
            F.col(f"_ret_{o}").isNotNull()
            & (F.col(f"_cur_{o}").isNull() | (F.col(f"_ret_{o}") <= F.col(f"_cur_{o}")))
        )
    for o in maxs:
        rescan = rescan | (
            F.col(f"_ret_{o}").isNotNull()
            & (F.col(f"_cur_{o}").isNull() | (F.col(f"_ret_{o}") >= F.col(f"_cur_{o}")))
        )
    merged = delta.join(cur, group, "left").select(
        F.col(group),
        (F.coalesce(F.col("_cur_n"), F.lit(0)) + F.col("_dn"))
        .cast("bigint")
        .alias("n_rows"),
        *[
            (
                F.coalesce(F.col(f"_cur_{out}"), F.lit(0).cast(acc[out]))
                + F.col(out)
            ).cast(acc[out]).alias(out)
            for out in sums
        ],
        *[F.least(F.col(f"_cur_{o}"), F.col(f"_ins_{o}")).alias(o) for o in mins],
        *[F.greatest(F.col(f"_cur_{o}"), F.col(f"_ins_{o}")).alias(o) for o in maxs],
        rescan.alias("_rescan"),
    )
    cached = None
    if exts:
        cached = merged = merged.persist()
        rg = merged.filter("_rescan").select(group)
        try:
            base_at_end = read_keyed(
                spark, mv["base"], generation=end_version
            )
        except FileNotFoundError as e:
            cached.unpersist()
            raise StaleViewError(
                f"base generation {end_version} (this batch's WAL'd "
                f"end offset) is no longer readable at {mv['base']} "
                f"({e}); the extremum rescan cannot be pinned — raise "
                f"the base's retain, or rebuild the view with "
                f"create_aggregate_view"
            ) from e
        recomputed = (
            base_at_end.join(F.broadcast(rg), group)
            .groupBy(group)
            .agg(
                *[F.min(F.col(src).cast(acc[o])).alias(f"_re_{o}") for o, src in mins.items()],
                *[F.max(F.col(src).cast(acc[o])).alias(f"_re_{o}") for o, src in maxs.items()],
            )
        )
        merged = merged.join(recomputed, group, "left").select(
            F.col(group),
            F.col("n_rows"),
            *[F.col(out) for out in sums],
            # a rescan group whose rows all vanished recomputes to no
            # row at all -> NULL extremum, the correct answer
            *[
                F.when(F.col("_rescan"), F.col(f"_re_{o}")).otherwise(F.col(o)).alias(o)
                for o in exts
            ],
        )
    else:
        merged = merged.drop("_rescan")
    write_keyed(
        merged,
        view_path,
        group,
        mode=SinkMode.APPEND,
        meta_extra={"matview": {
            **mv,
            "stream": {"checkpoint": checkpoint, "batch_id": batch_id},
        }},
    )
    if cached is not None:
        cached.unpersist()
    return True


def read_aggregate_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The view without zero-count tombstones — the relation a consumer
    joins against."""
    return read_keyed(spark, view_path).filter(F.col("n_rows") > 0)
