"""Keyed upsert sink — the Cassandra-table semantics on any storage.

Reference parity: ``CassandraStorage`` (``/root/reference/
simpss_persistence/storage/cassandra_storage.py:17-129``) issues one
prepared ``INSERT`` per row; Cassandra INSERT is an upsert by
``PRIMARY KEY (sensor_group, sensor_id, time_received)``
(``link_kafka_cassandra.py:33-46``), so at-least-once delivery collapses
to exactly-once-effect storage.

Spark restatement: a lakehouse table partitioned by the same partition
key, written through ``foreachBatch`` with PK dedup — idempotent, so
checkpoint replays are absorbed exactly like Cassandra absorbs them. On
a deployment with the Spark Cassandra Connector the same ``foreachBatch``
body becomes ``df.write.format("org.apache.spark.sql.cassandra")`` and
the dedup is free (server-side upsert); the connector isn't in this
container, so the portable parquet path is the tested one.

Scale notes: writes shuffle once on the partition key (matching the
storage layout — no second shuffle at read time for per-group scans);
the read-merge-write upsert below is for the portable parquet fallback
only — at 100 TB the sink is Cassandra/Delta/Iceberg where upsert is a
storage-native MERGE, not a rewrite.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# ------------------------------------------------ generation-swap layout
# Read-merge-write sinks on plain parquet cannot rewrite a table in
# place atomically (a crash mid-write tears it — the failure mode table
# formats solve with metadata swaps; see compact_to's directory-swap
# note in sources/lakehouse.py). The portable discipline here: each
# merge writes a FRESH generation directory under
# ``<path>.__generations__/gen.<batch_id>.<nonce>`` and ``<path>``
# itself is a SYMLINK swapped to the new generation with one atomic
# ``os.replace``; because the applied batch id is part of the
# generation NAME, table state and replay cursor advance in the same
# atomic rename (no window where one moved and the other didn't).
# Each generation also records the schema it was written with in
# ``<gen>/_schema.json`` (Spark's file listing skips ``_`` names).
# Every reader goes through :func:`_read_generation`, which resolves
# the symlink ONCE and scans that generation directory under its
# recorded schema: no read pays Spark's footer-inference job, and a
# later swap cannot move the files out from under a planned read.

_GEN_RE = re.compile(r"^gen\.(-?\d+)\.")
_SCHEMA_FILE = "_schema.json"


def _generations_root(path: str) -> str:
    return path.rstrip("/") + ".__generations__"


def _legacy_applied_id(path: str) -> int:
    """Replay cursor of the PRE-SWAP layout (a ``.__applied__`` marker
    file beside the plain table directory). Honoring it across the
    layout upgrade is what keeps an old checkpoint's replayed batch
    from double-counting into the migrated table."""
    marker = path.rstrip("/") + ".__applied__"
    try:
        with open(marker) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return -1


def _require_str_keys(d: dict, what: str) -> None:
    """The pinned-group dicts (``ranges``/``edges``/``ref_edges``)
    join against stream rows stringified with Spark's ``cast(
    'string')``; a Python-native key would be stringified with
    ``str()``, which can disagree (``str(True)`` vs ``'true'``,
    float formatting) and silently pin groups no row ever matches.
    Publishers (``quantile_edges_kll_by`` et al.) already emit
    engine-cast string keys — require them here rather than guess."""
    bad = [g for g in d if not isinstance(g, str)]
    if bad:
        raise TypeError(
            f"{what} keys must be str (Spark cast-to-string group "
            f"values, as the edge publishers emit) — got non-str keys "
            f"{bad[:3]!r}; Python str() of a native value can disagree "
            "with the engine's cast and the pin join would silently "
            "match nothing"
        )


def _current_generation(path: str) -> tuple[str | None, int]:
    """(current generation dir, applied batch id) — both derived from
    the one symlink, so they can never disagree. A legacy plain
    directory (pre-swap layout) reads its old ``.__applied__`` marker
    as the cursor, so replay protection survives the layout upgrade.

    Self-healing: if ``path`` is missing but a ``.__legacy__*``
    migration directory exists, a crash hit the one non-atomic window
    of the first post-upgrade swap (plain dir renamed away, symlink not
    yet committed) — restore the legacy directory as the live table
    before reporting, so no state is ever lost to that window."""
    p = path.rstrip("/")
    if not os.path.lexists(p):
        # glob.escape: a table path containing [, ? or * must not be
        # treated as a pattern, or recovery/sweeps silently match nothing
        for cand in sorted(glob.glob(glob.escape(p) + ".__legacy__*")):
            if os.path.isdir(cand):
                try:
                    os.rename(cand, p)
                except OSError:
                    continue
                break
    if os.path.islink(p):
        target = os.path.realpath(p)
        m = _GEN_RE.match(os.path.basename(target))
        return target, int(m.group(1)) if m else -1
    if os.path.exists(p):
        return p, _legacy_applied_id(p)
    return None, -1


def _swap_in_generation(
    path: str, df: DataFrame, batch_id: int, partition_col: str | None = None
) -> None:
    """Write ``df`` (partitioned by ``partition_col`` when given) as a
    new generation with its schema record, then atomically point
    ``path`` at it. A crash before the ``os.replace`` leaves the old
    state live and the old batch id applied (the batch replays
    cleanly; the one legacy-migration rename window self-heals in
    :func:`_current_generation`); a crash after it leaves at worst
    stale directories, cleaned on the next call.

    Retirement is DEFERRED BY ONE GENERATION: the generation the
    symlink pointed at before this swap survives until the NEXT swap,
    so a reader that resolved the symlink just before the flip can
    finish its scan — without the grace generation, 'readers always
    see a complete table' would only hold for reads that both start
    and end between swaps."""
    p = path.rstrip("/")
    root = _generations_root(p)
    os.makedirs(root, exist_ok=True)
    # realpath (not abspath) EVERYWHERE path identities are compared or
    # stored: with a symlinked ancestor in the table path (mounted data
    # dirs, macOS /tmp), abspath and realpath forms of the same
    # directory differ, and a mixed comparison would retire the reader-
    # grace generation immediately (review r11 pass 2)
    gen = os.path.join(
        os.path.realpath(root), f"gen.{batch_id}.{uuid.uuid4().hex[:8]}"
    )
    writer = df.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(gen)
    # data columns, then the partition column, all nullable: the schema
    # Spark's inference reports for the directory, with the written
    # types (a string partition whose values look numeric stays string)
    fields = sorted(df.schema.fields, key=lambda f: f.name == partition_col)
    recorded = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    )
    with open(os.path.join(gen, _SCHEMA_FILE), "w") as fh:
        fh.write(recorded.json())
    prev_target = os.path.realpath(p) if os.path.islink(p) else None
    legacy = None
    if os.path.exists(p) and not os.path.islink(p):
        # migrate a pre-swap plain directory out of the way; its bytes
        # were already folded into `df` via the caller's read, and a
        # crash between this rename and the replace below is recovered
        # by _current_generation's legacy-restore path
        legacy = p + f".__legacy__{uuid.uuid4().hex[:8]}"
        os.rename(p, legacy)
    tmp_link = p + f".__lnk__{uuid.uuid4().hex[:8]}"
    # abspath target: a relative target would resolve relative to the
    # SYMLINK's directory and break any table path with a dir component
    os.symlink(gen, tmp_link)
    os.replace(tmp_link, p)  # the atomic commit point
    # retire superseded state: everything except the new generation and
    # the immediately-previous one (the in-flight-reader grace copy)
    keep = {gen, prev_target} - {None}
    for d in os.listdir(root):
        full = os.path.realpath(os.path.join(root, d))
        if full not in keep:
            shutil.rmtree(full, ignore_errors=True)
    # sweep stray legacy dirs from PRIOR swaps (a crash after an earlier
    # commit point can leave them) — but NOT the one this swap created:
    # like prev_target above, it survives one swap so a reader that
    # opened the pre-swap plain table can finish its scan
    for stray in glob.glob(glob.escape(p) + ".__legacy__*"):
        if stray != legacy:
            shutil.rmtree(stray, ignore_errors=True)
    marker = p + ".__applied__"
    if os.path.exists(marker):  # legacy cursor superseded by the name
        try:
            os.remove(marker)
        except OSError:
            pass


def _read_generation(spark: SparkSession, path: str) -> DataFrame | None:
    """The table's current generation, or ``None`` when there is no
    table. The symlink is resolved once and the scan opens that
    generation directory, so a swap after this call cannot take the
    files away (the previous generation survives one more swap, see
    :func:`_swap_in_generation`). The schema comes from the
    generation's record; a directory without one (a legacy plain
    table, or a generation written before records existed) falls back
    to Spark's inference."""
    gen, _ = _current_generation(path)
    if gen is None:
        return None
    try:
        with open(os.path.join(gen, _SCHEMA_FILE)) as fh:
            recorded = StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return spark.read.parquet(gen)
    return spark.read.schema(recorded).parquet(gen)


def upsert_keyed_parquet(
    batch: DataFrame,
    path: str,
    keys: tuple[str, ...],
    partition_col: str | None = None,
) -> None:
    """Last-writer-wins upsert of ``batch`` into a keyed parquet table.

    New rows win over stored rows on PK collision (Cassandra INSERT
    semantics); within the batch, later rows win (the reference applies
    messages in consumption order, consumer.py:74-75).
    """
    new = batch.withColumn("_src", F.lit(1)).withColumn(
        "_seq", F.monotonically_increasing_id()
    )
    old = _read_generation(batch.sparkSession, path)
    if old is not None:
        old = (
            old.select(*batch.columns)
            .withColumn("_src", F.lit(0))
            .withColumn("_seq", F.lit(0).cast("long"))
        )
        merged = old.unionByName(new)
    else:
        merged = new
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.desc("_src"), F.desc("_seq")
    )
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src", "_seq")
    )
    # Generation swap (module docstring above): `result` reads from the
    # live generation, the write lands in a NEW one, and the symlink
    # flip is the atomic commit — no torn-table window, no staging
    # double-write. Upserts are idempotent by PK so the batch id is
    # advisory here (replays are absorbed either way).
    _swap_in_generation(path, result, batch_id=-1, partition_col=partition_col)


def foreach_batch_upsert(
    path: str, keys: tuple[str, ...], partition_col: str | None = None
):
    """``foreachBatch`` body for Structured Streaming (ST1/ST5).

    Idempotent per the PK, so checkpoint-replayed batches are harmless —
    the exactly-once-effect contract the reference gets from Cassandra.
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        upsert_keyed_parquet(batch, path, keys, partition_col)

    return _write


def read_keyed_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The keyed table as one pinned generation (:func:`_read_generation`)."""
    df = _read_generation(spark, path)
    if df is None:
        raise ValueError(f"no keyed table at {path} yet")
    return df


# ------------------------------------------------- additive agg sink
def additive_merge_parquet(
    batch: DataFrame,
    path: str,
    keys: tuple[str, ...],
    sums: dict,
    batch_id: int = -1,
) -> None:
    """Merge a RAW micro-batch into a storage-resident rollup: per key,
    stored sums grow by the batch's partial sums (plus an ``n_rows``
    count). The batch collapses to one partial row per key BEFORE the
    merge touches storage, so the rewrite is proportional to the key
    space, never the stream volume.

    This is the additive complement to :func:`upsert_keyed_parquet`
    (replace-by-PK): Spark's own streaming aggregation keeps per-key
    state in the STATE STORE, which is the wrong home when the key
    space is unbounded and the job must survive re-provisioning — here
    the rollup LIVES IN THE TABLE and the streaming job is stateless.
    At 100 TB the body becomes a Delta/Iceberg MERGE; this portable
    parquet form is the tested analog (same generation-swap discipline
    as the upsert sink — the write is crash-atomic and carries the
    applied ``batch_id`` in the committed generation's name).
    """
    partial = batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(src).alias(out) for out, src in sums.items()],
    )
    _, last = _current_generation(path)
    old = _read_generation(batch.sparkSession, path)
    if old is not None:
        merged = (
            old.select(*partial.columns)
            .unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(out).alias(out) for out in sums],
            )
        )
    else:
        merged = partial
    # Never REGRESS the replay cursor embedded in the generation name: a
    # direct call with the -1 sentinel (or any stale id) on a table that
    # foreach_batch_additive maintains must carry the current applied id
    # forward, or checkpoint-replayed batches double-count after the
    # manual merge (ADVICE r11).
    _swap_in_generation(path, merged, max(last, batch_id))


def foreach_batch_additive(path: str, keys: tuple[str, ...], sums: dict):
    """``foreachBatch`` body for the additive rollup, with CRASH-SAFE
    REPLAY PROTECTION: additive merges are not idempotent (a
    checkpoint-replayed batch would double-count), so already-applied
    ids must be skipped — and the applied id must advance ATOMICALLY
    with the table state, or a crash between the two double-counts on
    replay. Here the id is embedded in the generation-directory name
    the table symlink points at (see the generation-swap layout above):
    one ``os.replace`` commits both, the standard foreachBatch
    exactly-once-effect recipe for non-idempotent sinks done without a
    separate marker file to fall out of sync."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _, last = _current_generation(path)
        if batch_id <= last:
            return  # replayed batch: already folded into the table
        additive_merge_parquet(batch, path, keys, sums, batch_id=batch_id)

    return _apply


# ------------------------------------------- sketch-register rollup sink
def register_merge_parquet(
    batch: DataFrame,
    path: str,
    group_cols: tuple[str, ...],
    col: str,
    p: int | None = None,
    batch_id: int = -1,
) -> None:
    """MAX-merge a micro-batch's HyperLogLog registers into a
    storage-resident register table — the CARDINALITY complement of
    :func:`additive_merge_parquet` (sum) on the same generation-swap
    layout: per-key distinct counts that survive re-provisioning with
    the table, not a state store.

    The batch collapses to its register relation
    (``functions.sketches.hll_registers`` — ≤ groups×2^p rows) BEFORE
    the merge touches storage, and merging is per-register ``max`` —
    idempotent AND commutative, so shard rollups, replays, and
    out-of-order applies all converge to the same table. Estimates read
    back via :func:`read_hll_estimates` equal the batch
    ``hll_distinct`` over every row ever folded (bit-identical — same
    portable register arithmetic both ways)."""
    from unimib_simpss_spark.functions.sketches import HLL_P, hll_registers

    p = HLL_P if p is None else p
    gcols = list(group_cols)
    # precision is STORED IN THE TABLE (a constant column): registers
    # built at different p have incompatible bucket ids and rank
    # geometry, so a mismatched merge would silently corrupt the sketch
    # and a mismatched read would inflate the linear-counting zeros
    # term — both must be loud (review r11 pass 3)
    regs = hll_registers(batch, gcols, col, p).withColumn("p", F.lit(p))
    _, last = _current_generation(path)
    old = _read_generation(batch.sparkSession, path)
    if old is not None:
        stored_p = old.select("p").first()
        if stored_p is not None and stored_p.p != p:
            raise ValueError(
                f"register table at {path} was built with p={stored_p.p}; "
                f"merging p={p} registers would corrupt the sketch"
            )
        merged = (
            old.select(*regs.columns)
            .unionByName(regs)
            .groupBy(*gcols, "b", "p")
            .agg(F.max("M").alias("M"))
        )
    else:
        merged = regs
    # max(): same cursor carry-forward as additive_merge_parquet — here
    # max-merge is idempotent so a regressed cursor only re-pays merges,
    # but the generation name should still never move backwards.
    _swap_in_generation(path, merged, batch_id=max(last, batch_id))


def foreach_batch_hll(
    path: str, group_cols: tuple[str, ...], col: str, p: int | None = None
):
    """``foreachBatch`` body for the register rollup. Max-merge is
    idempotent, so a replayed batch could not corrupt the table even
    without the cursor — the applied-id skip below just avoids paying
    the merge twice."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _, last = _current_generation(path)
        if batch_id <= last:
            return
        register_merge_parquet(batch, path, group_cols, col, p, batch_id)

    return _apply


def read_hll_estimates(
    spark: SparkSession,
    path: str,
    group_cols: tuple[str, ...],
    p: int | None = None,
    ndigits: int = 4,
) -> DataFrame:
    """Per-group cardinality estimates from the rollup table
    :func:`foreach_batch_hll` maintains (same estimator as the batch
    ``hll_distinct``). The estimator runs at the precision STORED in
    the table; passing an explicit ``p`` merely asserts it (a mismatch
    raises rather than silently mis-scaling the zeros correction)."""
    from unimib_simpss_spark.functions.sketches import (
        hll_distinct_from_registers,
    )

    regs = _read_generation(spark, path)
    stored = regs.select("p").first() if regs is not None else None
    if stored is None:
        raise ValueError(f"register table at {path} is missing or empty")
    if p is not None and p != stored.p:
        raise ValueError(
            f"register table at {path} was built with p={stored.p}, "
            f"caller asked for p={p}"
        )
    return hll_distinct_from_registers(
        regs, list(group_cols), stored.p, ndigits
    )


# -------------------------------------------------- SCD2 history sink
def scd2_merge_parquet(
    batch: DataFrame,
    path: str,
    keys: tuple[str, ...],
    ts_col: str,
    id_col: str,
    value_col: str,
    batch_id: int = -1,
) -> None:
    """MERGE-shaped fold of one micro-batch of updates into an SCD2
    HISTORY table (the streaming form of ``sources.lakehouse.
    scd2_history`` — same NULL-safe change rule, same ``(ts, id)`` tie
    order), written through the generation swap like every sink here.

    Mechanics: the stored history splits into CLOSED versions
    (``valid_to`` set — immutable, pass through untouched) and OPEN
    versions; each key's open version is replayed as the seed row of
    the same change-rule window over (open ∪ batch updates), so a
    batch row carrying the key's current value collapses into the
    existing version (keeping its ``valid_from``/``version_id``) and a
    changed value closes it and opens a new one — exactly what a
    Delta/Iceberg ``MERGE``-based SCD2 writer does, on plain parquet.

    Parity contract (the funnel/EWMA/KLL discipline): with updates
    arriving in event-time order across batches, the table after any
    stream prefix EQUALS ``scd2_history`` over that prefix — pinned in
    tests/test_streaming.py. Late rows pre-dating a key's open version
    drop (closed history is immutable; the same arrival-order caveat
    as every stateful op here) — which also makes checkpoint replays
    idempotent: a replayed update either re-collapses into the version
    it created or pre-dates it and drops.

    Equal-timestamp boundary (review r14 ADVICE): a NEW update whose
    ``ts`` exactly equals the open version's ``valid_from`` sorts
    strictly AFTER the replayed seed (a seed-priority tiebreak through
    ``scd2_history``'s ``seed_col``), so the open version's
    ``version_id`` is stable across merges regardless of the new
    event's id; the update then collapses (same value) or opens a
    follow-up version at the same ts (changed value) —
    deterministically. A batch ``scd2_history`` run that saw BOTH
    events up front would instead order them by id; that equal-ts
    out-of-id-order case is outside the parity contract (pinned in
    tests), the same event-time-order caveat the late-drop rule
    documents.

    Scale shape: one key-partitioned window over (open versions ∪
    batch) plus the closed-version passthrough; the portable parquet
    path rewrites the table per generation like the keyed upsert — on
    Delta/Iceberg the same logic is a storage-native MERGE touching
    only matched files."""
    from unimib_simpss_spark.sources.lakehouse import scd2_history

    kl = list(keys)
    # seed-priority tiebreak column (0 = replayed open version, 1 =
    # new update): uniquified against the caller's column names
    c_seed = "_seed"
    while c_seed in {*kl, ts_col, id_col, value_col}:
        c_seed = "_" + c_seed
    upd = batch.where(F.col(ts_col).isNotNull()).select(
        *kl, id_col, value_col, ts_col, F.lit(1).alias(c_seed)
    )
    hist = _read_generation(batch.sparkSession, path)
    closed = None
    if hist is not None:
        closed = hist.where(F.col("valid_to").isNotNull())
        open_ = hist.where(F.col("valid_to").isNull())
        # late guard: a batch row older than the key's open version
        # would re-derive already-closed history → drop it
        bounds = open_.select(*kl, F.col("valid_from").alias("_open_from"))
        upd = (
            upd.join(bounds, kl, "left")
            .where(
                F.col("_open_from").isNull()
                | (F.col(ts_col) >= F.col("_open_from"))
            )
            .drop("_open_from")
        )
        seed = open_.select(
            *kl,
            F.col("version_id").alias(id_col),
            F.col("value").alias(value_col),
            F.col("valid_from").alias(ts_col),
            F.lit(0).alias(c_seed),
        )
        upd = seed.unionByName(upd)
    merged = scd2_history(
        upd, keys, ts_col, id_col, value_col, seed_col=c_seed
    )
    if closed is not None:
        merged = closed.select(*merged.columns).unionByName(merged)
    _swap_in_generation(path, merged, batch_id=batch_id)


def foreach_batch_scd2(
    path: str,
    keys: tuple[str, ...],
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
):
    """``foreachBatch`` body maintaining an SCD2 history table (S4's
    dimension-evolution form). The merge is replay-idempotent (see
    :func:`scd2_merge_parquet`), so the batch id is advisory."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        scd2_merge_parquet(
            batch, path, keys, ts_col, id_col, value_col, batch_id
        )

    return _apply


# ---------------------------------------------- drift-monitor sink
def foreach_batch_drift(
    path: str, col: str, lo: float, hi: float, bins: int = 10
):
    """``foreachBatch`` body accumulating the STREAMED side of the
    distribution-drift gate (``operators.validation.
    distribution_drift``): each micro-batch bins its values over the
    PINNED reference range ``[lo, hi]`` (the prior release's stats —
    the documented 100 TB practice; the stream cannot re-scan the
    reference per batch) and folds the bin counts into the additive
    rollup table. Bin counts are ADDITIVE across batches, so the
    stored histogram after any stream prefix equals the batch
    operator's current-side histogram over that prefix — parity is
    pinned through :func:`read_drift_metrics`. The binning config
    ``(bins, lo, hi)`` is STORED in the table as part of the key (the
    HLL sink's store-and-assert discipline) so a reader with a
    different config fails loudly instead of silently mis-joining.
    Replay protection and the fold itself delegate to
    :func:`foreach_batch_additive` — the cursor contract lives once."""
    from unimib_simpss_spark.operators.validation import _drift_bin

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    fold = foreach_batch_additive(path, ("bins", "lo", "hi", "bin"), {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        v = F.col(col).cast("double")
        binned = batch.where(v.isNotNull()).select(
            F.lit(int(bins)).alias("bins"),
            F.lit(float(lo)).alias("lo"),
            F.lit(float(hi)).alias("hi"),
            _drift_bin(
                v, F.lit(float(lo)), F.lit(float(hi)), bins
            ).alias("bin"),
        )
        fold(binned, batch_id)

    return _apply


def foreach_batch_drift_by(
    path: str,
    col: str,
    group_col: str,
    ranges: dict,
    bins: int = 10,
):
    """Per-GROUP twin of :func:`foreach_batch_drift` — the streamed
    side of ``distribution_drift_by`` ("WHICH source shifted?"): each
    micro-batch bins its values over the PINNED per-group reference
    ranges (``ranges``: group value → ``(lo, hi)`` from the prior
    release's per-group stats — groups-sized, a driver-held dict by
    the same bounded-groups contract as the batch operator's
    broadcast stats) and folds ``(group, bin)`` counts into the
    additive rollup. Rows whose group is NOT in ``ranges`` are
    dropped, mirroring the batch rule (groups are defined by the
    reference; brand-new groups are the corpus-diff 'added' class's
    job). Config ``(bins, grp, lo, hi)`` is STORED per row
    (store-and-assert) so :func:`read_drift_metrics_by` fails loudly
    on any mismatched read. Fold + replay protection delegate to
    :func:`foreach_batch_additive`."""
    from unimib_simpss_spark.operators.validation import _drift_bin

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if not ranges:
        raise ValueError(
            "foreach_batch_drift_by needs at least one pinned group "
            "range (group -> (lo, hi))"
        )
    _require_str_keys(ranges, "foreach_batch_drift_by ranges")
    fold = foreach_batch_additive(path, ("bins", "grp", "lo", "hi", "bin"), {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        pins = spark.createDataFrame(
            [(g, float(lo), float(hi)) for g, (lo, hi) in ranges.items()],
            "grp string, lo double, hi double",
        )
        v = F.col(col).cast("double")
        binned = (
            batch.where(v.isNotNull() & F.col(group_col).isNotNull())
            .select(F.col(group_col).cast("string").alias("grp"), v.alias("_v"))
            .join(F.broadcast(pins), "grp")
            .select(
                F.lit(int(bins)).alias("bins"),
                "grp",
                "lo",
                "hi",
                _drift_bin(F.col("_v"), F.col("lo"), F.col("hi"), bins).alias(
                    "bin"
                ),
            )
        )
        fold(binned, batch_id)

    return _apply


def foreach_batch_drift_cat(path: str, col: str, buckets: list):
    """Categorical twin of :func:`foreach_batch_drift` — the streamed
    side of ``validation.categorical_drift``: each micro-batch maps
    its values onto the PINNED bucket frame (``buckets``: the prior
    release's top-k category values — the stream cannot re-derive the
    reference's top-k per batch; everything else folds into
    ``'__other__'``, including NULL-excluded rows' absence) and
    accumulates per-bucket counts in the additive rollup. The pinned
    frame is STORED per row as an order-insensitive md5 signature
    (store-and-assert) so :func:`read_drift_cat_metrics` fails loudly
    when the reader's reference would derive a DIFFERENT frame."""
    from unimib_simpss_spark.operators.validation import (
        OTHER_BUCKET,
        bucket_expr,
    )

    vals = [str(b) for b in buckets]
    if not vals:
        raise ValueError("foreach_batch_drift_cat needs pinned buckets")
    if OTHER_BUCKET in vals:
        raise ValueError(
            f"{OTHER_BUCKET!r} is the implicit tail bucket — do not pin it"
        )
    sig = hashlib.md5("\x1f".join(sorted(vals)).encode()).hexdigest()
    fold = foreach_batch_additive(path, ("pin", "bucket"), {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        c = F.col(col).cast("string")
        binned = batch.where(c.isNotNull()).select(
            F.lit(sig).alias("pin"),
            bucket_expr(c, vals).alias("bucket"),
        )
        fold(binned, batch_id)

    return _apply


def read_drift_cat_metrics(
    spark: SparkSession,
    ref: DataFrame,
    path: str,
    col: str,
    top_k: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Categorical PSI of the streamed distribution against the
    reference snapshot — the same ``(metric, category, ref_n, cur_n,
    value)`` rows ``categorical_drift`` would emit for the same data.
    Loud-failure contract: the top-k frame this reader derives from
    ``ref`` (same count-desc value-asc rule) must hash-match the
    sink's stored pin; a drifted reference or different ``top_k``
    raises instead of mis-bucketing."""
    from unimib_simpss_spark.operators.validation import (
        bucket_expr,
        categorical_counts_frame,
        categorical_metrics_from_counts,
        top_categories,
    )

    top_vals = top_categories(ref, col, top_k)
    sig = hashlib.md5("\x1f".join(sorted(top_vals)).encode()).hexdigest()
    stored = _read_generation(spark, path)
    if stored is None:
        stored = spark.createDataFrame([], "pin string, bucket string, n_rows long")
    pins = [r["pin"] for r in stored.select("pin").distinct().collect()]
    if len(pins) > 1:
        raise ValueError(
            f"drift table at {path} holds {len(pins)} bucket frames — it "
            "must be written by ONE foreach_batch_drift_cat sink"
        )
    if pins and pins[0] != sig:
        raise ValueError(
            f"drift table at {path} was pinned to a different top-{top_k} "
            "category frame than this reference derives — re-pin the sink "
            "or pass the matching reference snapshot"
        )
    c = F.col(col).cast("string")
    rb = (
        ref.where(c.isNotNull())
        .select(bucket_expr(c, top_vals).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cb = stored.select(
        F.col("bucket").alias("category"), F.col("n_rows").alias("n")
    )
    j = categorical_counts_frame(spark, top_vals, rb, cb)
    return categorical_metrics_from_counts(j, ndigits)


def read_drift_metrics_by(
    spark: SparkSession,
    ref: DataFrame,
    path: str,
    col: str,
    group_col: str,
    bins: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group PSI/KS of the streamed distribution against the
    reference snapshot — the same ``(group, metric, bin, ref_n,
    cur_n, value)`` rows ``distribution_drift_by`` would emit for the
    same data, IN STRING GROUP SPACE: the sink stores group keys as
    strings (a parquet table needs one stable type), so this reader
    casts the reference's group column to string and emits string
    groups — when cross-checking against the batch operator on a
    non-string-keyed corpus, cast its group column to string first
    (the shipped parity test does). Loud-failure contract: the
    caller's ``bins`` and the reference's per-group min/max must
    match every stored pin (store-and-assert, the HLL reader's
    discipline); groups present only in the stream are excluded
    exactly as the batch operator excludes current-only groups."""
    from unimib_simpss_spark.operators.validation import (
        _drift_bin,
        drift_by_metrics_from_counts,
    )

    v = F.col(col).cast("double")
    refd = ref.where(v.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("_g"), v.alias("_v")
    )
    st = refd.groupBy("_g").agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    stored = _read_generation(spark, path)
    if stored is None:
        stored = spark.createDataFrame(
            [],
            "bins int, grp string, lo double, hi double, "
            "bin long, n_rows long",
        )
    cfg = stored.select("bins").distinct().collect()
    if len(cfg) > 1:
        raise ValueError(
            f"drift table at {path} holds {len(cfg)} bin configs — it "
            "must be written by ONE foreach_batch_drift_by sink"
        )
    if cfg and cfg[0]["bins"] != bins:
        raise ValueError(
            f"drift table at {path} was built with bins={cfg[0]['bins']}, "
            f"caller asked for bins={bins}"
        )
    # store-and-assert per group: every stored (grp, lo, hi) pin must
    # equal the reference's per-group range — both sides are
    # groups-sized by contract, so the collect is bounded. Duplicate
    # detection must compare the DISTINCT ROW count against the dict
    # (a dict comprehension silently keeps one pin per group — review
    # r15 pass 1 caught the collapsed-before-compared form)
    pin_rows = stored.select("grp", "lo", "hi").distinct().collect()
    stored_pins = {r["grp"]: (r["lo"], r["hi"]) for r in pin_rows}
    if len(pin_rows) > len(stored_pins):
        raise ValueError(
            f"drift table at {path} holds conflicting (lo, hi) pins "
            "for one group — it must be written by ONE sink config"
        )
    ref_pins = {
        r["_g"]: (r["_lo"], r["_hi"]) for r in st.collect()
    }
    for g, pin in stored_pins.items():
        if g in ref_pins and ref_pins[g] != pin:
            raise ValueError(
                f"drift table at {path} pinned group {g!r} to "
                f"[{pin[0]}, {pin[1]}] but the reference spans "
                f"[{ref_pins[g][0]}, {ref_pins[g][1]}] — re-pin the "
                "sink or pass the matching reference snapshot"
            )
    rc = (
        refd.join(F.broadcast(st), "_g")
        .select(
            "_g",
            _drift_bin(F.col("_v"), F.col("_lo"), F.col("_hi"), bins).alias(
                "bin"
            ),
        )
        .groupBy("_g", "bin")
        .agg(F.count(F.lit(1)).alias("_rn"))
    )
    cc = stored.select(
        F.col("grp").alias("_g"), "bin", F.col("n_rows").alias("_cn")
    )
    allbins = st.select("_g").crossJoin(
        F.broadcast(spark.range(bins).select(F.col("id").alias("bin")))
    )
    j = (
        allbins.join(rc, ["_g", "bin"], "left")
        .join(cc, ["_g", "bin"], "left")
        .select(
            "_g",
            "bin",
            F.coalesce("_rn", F.lit(0)).alias("ref_n"),
            F.coalesce("_cn", F.lit(0)).alias("cur_n"),
        )
    )
    return drift_by_metrics_from_counts(j, bins, ndigits, group_col)


def read_drift_metrics(
    spark: SparkSession,
    ref: DataFrame,
    path: str,
    col: str,
    bins: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """PSI/KS of the streamed distribution (the additive bin table
    :func:`foreach_batch_drift` maintains) against the reference
    snapshot — the same ``(metric, bin, ref_n, cur_n, value)`` rows
    ``distribution_drift`` would emit for the same data. Loud-failure
    contract (the HLL reader's discipline): the table's stored
    ``(bins, lo, hi)`` must match the caller's ``bins`` and the
    reference's min/max — a mismatched read raises instead of
    silently mis-joining bins into the wrong frame."""
    from unimib_simpss_spark.operators.validation import (
        _joined_bin_counts,
        binned_counts,
        drift_metrics_from_counts,
    )

    v = F.col(col).cast("double")
    refd = ref.where(v.isNotNull()).select(v.alias("_v"))
    st = refd.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    # resolve the live generation FIRST: before the sink commits its
    # first batch the symlink does not exist, and a raw read would die
    # with an opaque path-not-found — the documented contract for "no
    # data yet" is the same as an empty committed table: zero current
    # counts (there is no stored pin to check either way)
    stored = _read_generation(spark, path)
    if stored is None:
        stored = spark.createDataFrame(
            [], "bins int, lo double, hi double, bin long, n_rows long"
        )
    cfg = stored.select("bins", "lo", "hi").distinct().collect()
    if len(cfg) > 1:
        raise ValueError(
            f"drift table at {path} holds {len(cfg)} binning configs "
            f"— it must be written by ONE foreach_batch_drift sink"
        )
    # an EMPTY table (the stream has only seen NULL values / no rows)
    # carries no stored pin to check — all-zero current counts are the
    # correct read, same as the batch operator over zero current rows
    if cfg:
        if cfg[0]["bins"] != bins:
            raise ValueError(
                f"drift table at {path} was built with "
                f"bins={cfg[0]['bins']}, caller asked for bins={bins}"
            )
        bounds = st.first()
        if (cfg[0]["lo"], cfg[0]["hi"]) != (bounds["_lo"], bounds["_hi"]):
            raise ValueError(
                f"drift table at {path} was pinned to "
                f"[{cfg[0]['lo']}, {cfg[0]['hi']}] but the reference "
                f"spans [{bounds['_lo']}, {bounds['_hi']}] — re-pin the "
                "sink or pass the matching reference snapshot"
            )
    rc = binned_counts(refd, "_v", st, bins).withColumnRenamed("n", "_rn")
    cc = stored.select("bin", F.col("n_rows").alias("_cn"))
    return drift_metrics_from_counts(
        _joined_bin_counts(rc, cc, bins, spark), bins, ndigits
    )


def _edges_sig(edges) -> str:
    """Order-SENSITIVE canonical signature of a pinned edge list —
    ``repr`` round-trips doubles exactly, and the reader derives its
    edges the same way, so equal edges ⇒ equal signature."""
    return hashlib.md5(
        "\x1f".join(repr(float(e)) for e in edges).encode()
    ).hexdigest()


def foreach_batch_drift_q(path: str, col: str, edges):
    """Equi-depth twin of :func:`foreach_batch_drift` — the streamed
    side of ``operators.validation.quantile_drift``: each micro-batch
    bins its values against the PINNED quantile edges (the q-1 floats
    ``quantile_edges`` published at release time — the stream cannot
    re-derive the reference's percentiles per batch) and folds the
    bin counts into the additive rollup. The edge frame is STORED per
    row as ``(q, pin)`` — an md5 over the ordered edge reprs (the
    categorical sink's store-and-assert discipline) — so
    :func:`read_drift_q_metrics` fails loudly when the reader's
    reference would derive DIFFERENT edges. Binning is the same
    integer edge-count expression as the batch operator
    (``validation._qbin``); fold + replay protection delegate to
    :func:`foreach_batch_additive`."""
    from unimib_simpss_spark.operators.validation import (
        _check_edges,
        _qbin,
        pinned_edges_array,
    )

    # materialize BEFORE len(): an iterator-valued edges argument
    # would be drained by the length check and then validate as empty
    pinned = [float(e) for e in edges]
    q = len(pinned) + 1
    if q < 2:
        raise ValueError("foreach_batch_drift_q needs at least one edge")
    pinned = _check_edges(pinned, q)
    sig = _edges_sig(pinned)
    fold = foreach_batch_additive(path, ("q", "pin", "bin"), {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        v = F.col(col).cast("double")
        binned = batch.where(v.isNotNull()).select(
            F.lit(int(q)).alias("q"),
            F.lit(sig).alias("pin"),
            _qbin(v, pinned_edges_array(pinned, q), q).alias("bin"),
        )
        fold(binned, batch_id)

    return _apply


def read_drift_q_metrics(
    spark: SparkSession,
    ref: DataFrame,
    path: str,
    col: str,
    q: int = 10,
    ndigits: int = 6,
    ref_edges=None,
) -> DataFrame:
    """Equi-depth PSI/KS/JSD of the streamed distribution (the
    additive bin table :func:`foreach_batch_drift_q` maintains)
    against the reference snapshot — the same ``(metric, bin, ref_n,
    cur_n, value)`` rows ``quantile_drift`` would emit for the same
    data. Loud-failure contract: the reader's edges must
    signature-match the sink's stored pin; a drifted reference, a
    different ``q``, or a mismatched pin raises instead of
    mis-binning.

    Edges come from ``ref_edges`` when given — REQUIRED when the sink
    was pinned with published (e.g. KLL-approximate) edges, which an
    exact re-derivation can never reproduce — otherwise they are
    re-derived from ``ref`` via ``quantile_edges`` (the same
    ceil(p·n) percentile rule the exact publish path uses). The cheap
    stored-``q`` check runs BEFORE any reference scan."""
    from unimib_simpss_spark.operators.validation import (
        _check_edges,
        _joined_bin_counts,
        _qbinned_counts,
        drift_metrics_from_counts,
        pinned_edges_rel,
        quantile_edges,
    )

    stored = _read_generation(spark, path)
    if stored is None:
        stored = spark.createDataFrame(
            [], "q int, pin string, bin long, n_rows long"
        )
    cfg = stored.select("q", "pin").distinct().collect()
    if len(cfg) > 1:
        raise ValueError(
            f"quantile-drift table at {path} holds {len(cfg)} edge "
            "frames — it must be written by ONE foreach_batch_drift_q "
            "sink"
        )
    if cfg and cfg[0]["q"] != q:
        # free check first: a mis-typed q must not cost a reference scan
        raise ValueError(
            f"quantile-drift table at {path} was built with "
            f"q={cfg[0]['q']}, caller asked for q={q}"
        )
    edges = (
        _check_edges(ref_edges, q)
        if ref_edges is not None
        else quantile_edges(ref, col, q)
    )
    if cfg and cfg[0]["pin"] != _edges_sig(edges):
        raise ValueError(
            f"quantile-drift table at {path} was pinned to a "
            "different edge frame than the reader's — re-pin the "
            "sink, pass the sink's published ref_edges, or pass the "
            "matching reference snapshot"
        )
    # reference side computed under the SAME edges; the stored rollup
    # supplies the current-side counts verbatim (the
    # read_drift_metrics join shape)
    v = F.col(col).cast("double")
    refd = ref.where(v.isNotNull()).select(v.alias("_v"))
    er = pinned_edges_rel(spark, edges, q)
    rc = _qbinned_counts(refd, er, q).withColumnRenamed("n", "_rn")
    cc = stored.select("bin", F.col("n_rows").alias("_cn"))
    return drift_metrics_from_counts(
        _joined_bin_counts(rc, cc, q, spark), q, ndigits
    )


def foreach_batch_ldiv(path: str, quasi_cols: tuple, sensitive_col: str):
    """``foreachBatch`` body accumulating the STREAMED side of the
    privacy audit (``functions.privacy.ldiversity_groups``): each
    micro-batch's (quasi..., sensitive) cell counts fold into the
    additive generation-swap table — counts are additive, so the
    stored cell relation after any stream prefix equals the batch
    operator's cell over that prefix, and
    :func:`read_ldiv_metrics` replays it through the SAME arithmetic
    (``ldiversity_from_cell``, the count-preserving entry point).
    NULL sensitive values and NULL quasi keys drop per the batch
    rule. The streaming job holds no state; replay protection
    delegates to :func:`foreach_batch_additive`."""
    cols = (*quasi_cols, sensitive_col)
    fold = foreach_batch_additive(path, cols, {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        keep = F.col(sensitive_col).isNotNull()
        for qc in quasi_cols:
            keep = keep & F.col(qc).isNotNull()
        fold(batch.where(keep).select(*cols), batch_id)

    return _apply


def read_ldiv_metrics(
    spark: SparkSession,
    path: str,
    quasi_cols: tuple,
    sensitive_col: str,
    l_min: int = 3,
    t_max: float = 0.25,
    ndigits: int = 6,
) -> DataFrame:
    """l-diversity + t-closeness over the streamed cell counts — the
    same rows ``ldiversity_groups`` would emit for the same data.
    Raises a descriptive error before the sink's first generation
    (unlike the drift readers there is no reference side to anchor a
    zero-count read, and the quasi/sensitive column types are not
    derivable from thin air)."""
    from unimib_simpss_spark.functions.privacy import ldiversity_from_cell

    stored = _read_generation(spark, path)
    if stored is None:
        raise ValueError(
            f"no privacy-audit generation at {path} yet — the "
            "foreach_batch_ldiv sink has not committed a batch"
        )
    cell = stored.select(
        *quasi_cols, sensitive_col, F.col("n_rows").alias("_c")
    )
    return ldiversity_from_cell(
        cell, list(quasi_cols), sensitive_col, l_min, t_max, ndigits
    )


# ---------------------------------- streaming release-manifest sink
def foreach_batch_release_manifest(
    path: str, key: str, n_shards: int, token_col: str | None = None
):
    """``foreachBatch`` body accreting the corpus-release MANIFEST
    from the stream (the 15th batch-parity twin): each micro-batch is
    shard-tagged through the SHARED ``sources/lakehouse.shard_col``
    expression (single definition with ``write_sharded``, so the two
    sides cannot drift apart) and its per-shard
    ``(n_rows, n_tokens, digest)`` rows fold into a generation-swap
    table. The content digest is a per-row md5 hash summed mod a
    Mersenne prime (``lakehouse._shard_manifest`` — the single
    definition of the row shape), which makes it ADDITIVE:
    ``(a mod P + b mod P) mod P = (a+b) mod P``, so the accreted
    manifest after any stream prefix is BIT-IDENTICAL to
    ``write_corpus_release``'s manifest over the same rows — the
    loader-side integrity contract holds for a streamed drop without
    ever re-scanning what was shipped. ``n_shards`` is stored in the
    table (the HLL ``p``-guard discipline): folding a differently-
    sharded batch would silently corrupt shard membership, so it
    raises instead. Replay protection is the generation-name cursor
    (additive fold, non-idempotent — the
    :func:`foreach_batch_additive` contract)."""
    from unimib_simpss_spark.sources.lakehouse import (
        _DIGEST_MOD,
        _shard_manifest,
        shard_col,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _, last = _current_generation(path)
        if batch_id <= last:
            return  # replayed batch: already folded
        tagged = batch.withColumn("shard", shard_col(key, n_shards))
        fresh = (
            _shard_manifest(tagged, token_col)
            .withColumn("n_shards", F.lit(n_shards))
            .withColumn("token_col", F.lit(token_col).cast("string"))
        )
        old = _read_generation(batch.sparkSession, path)
        if old is not None:
            stored_n = old.select("n_shards", "token_col").first()
            if stored_n is not None and stored_n.n_shards != n_shards:
                raise ValueError(
                    f"manifest table at {path} was accreted with "
                    f"n_shards={stored_n.n_shards}; folding "
                    f"n_shards={n_shards} would corrupt shard "
                    "membership"
                )
            if stored_n is not None and stored_n.token_col != token_col:
                # sum() skips NULLs, so a redeploy with a different
                # token_col would silently freeze the token mass while
                # rows/digests kept growing (review r18 pass 5) — the
                # n_shards rule applies to every accretion setting
                raise ValueError(
                    f"manifest table at {path} was accreted with "
                    f"token_col={stored_n.token_col!r}; folding "
                    f"token_col={token_col!r} would corrupt the token "
                    "mass"
                )
            merged = (
                old.select(*fresh.columns)
                .unionByName(fresh)
                .groupBy("shard", "n_shards", "token_col")
                .agg(
                    F.sum("n_rows").cast("long").alias("n_rows"),
                    F.sum("n_tokens").cast("long").alias("n_tokens"),
                    F.pmod(
                        F.sum(F.col("digest").cast("decimal(38,0)")),
                        F.lit(_DIGEST_MOD),
                    )
                    .cast("long")
                    .alias("digest"),
                )
                .select(*fresh.columns)
            )
        else:
            merged = fresh
        _swap_in_generation(path, merged, batch_id=max(last, batch_id))

    return _apply


def read_release_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The accreted release manifest — ``(shard, n_rows, n_tokens,
    digest)``, the exact rows ``write_corpus_release`` would publish
    for the same corpus (the ``n_shards`` guard column is stripped).
    Raises before the sink's first generation."""
    stored = _read_generation(spark, path)
    if stored is None:
        raise ValueError(
            f"no release-manifest generation at {path} yet — the "
            "foreach_batch_release_manifest sink has not committed a "
            "batch"
        )
    return stored.drop("n_shards", "token_col")


# ------------------------------------------- streaming n-gram LM sink
def foreach_batch_lm_counts(path: str, text_col: str = "text"):
    """``foreachBatch`` body that folds each micro-batch's n-gram
    counts into one additive (slot, key) generation-swap table — the
    corpus LM built INCREMENTALLY from the stream, LAYOUT-IDENTICAL
    to the batch-published artifact (``curation.publish_lm_counts``;
    ``curation.lm_slot_keys`` is the single definition of the row
    shape, so a tokenization or key change cannot fork an accreted
    table from the batch model). N-gram counts are additive by
    construction, so the streamed table after any prefix equals the
    batch publisher's counts over the same rows (parity-pinned
    through :func:`read_lm_scores`). Replay protection and the fold
    itself delegate to :func:`foreach_batch_additive` — the cursor
    contract lives once."""
    from unimib_simpss_spark.operators.curation import lm_slot_keys

    fold = foreach_batch_additive(path, ("slot", "key"), {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        fold(lm_slot_keys(batch, text_col), batch_id)

    return _apply


def read_lm_scores(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 3,
    lambdas: tuple[float, float, float] = (0.6, 0.3, 0.1),
) -> DataFrame:
    """Score ``docs`` under the STREAMED n-gram model — row-identical
    to ``trigram_lm_scores(docs, ref=<the streamed corpus>)`` after
    any stream prefix: the current generation IS a published LM
    artifact, so this is exactly
    ``trigram_lm_scores(docs, ref_counts=<table>)`` (one scoring
    implementation — the count-preserving ``ldiversity_from_cell``
    discipline). This is the 100 TB serving shape: the in-domain LM
    accretes from the stream, and any shard scores against it
    scan-free of the reference corpus. Raises a descriptive error
    before the sink's first generation; a committed-but-EMPTY model
    (a NULL-text-only prefix commits a zero-row generation and
    advances the cursor) is rejected by the shared artifact
    validation — an empty model has no floor (review r17 pass 3)."""
    from unimib_simpss_spark.operators.curation import (
        _bound_tokens,
        trigram_lm_scores,
    )

    counts = _read_generation(spark, path)
    if counts is None:
        raise ValueError(
            f"no LM-count generation at {path} yet — the "
            "foreach_batch_lm_counts sink has not committed a batch"
        )
    try:
        return trigram_lm_scores(
            None,
            id_col=id_col,
            text_col=text_col,
            ndigits=ndigits,
            lambdas=lambdas,
            materialize=False,
            toks=_bound_tokens(docs, id_col, text_col),
            ref_counts=counts,
        )
    except ValueError as e:
        if "unigram mass" in str(e):
            # re-anchor the shared artifact error on the TABLE a
            # serving job was reading — operational triage needs the
            # path (review r17 pass 4)
            raise ValueError(f"LM-count table at {path}: {e}") from e
        raise


def foreach_batch_drift_q_by(
    path: str, col: str, group_col: str, edges: dict
):
    """Per-GROUP equi-depth twin of :func:`foreach_batch_drift_q` —
    the streamed side of ``validation.quantile_drift_by``: each
    micro-batch bins its values against the PINNED per-group edges
    (``edges``: group value → q-1 published floats; groups-sized,
    driver-held — the foreach_batch_drift_by contract) and folds
    ``(group, bin)`` counts into the additive rollup. Rows whose
    group is NOT pinned drop (groups are defined by the reference).
    Every group's frame must share one q; the per-group pin signature
    is STORED per row (store-and-assert) so the reader fails loudly
    on any mismatched frame."""
    from unimib_simpss_spark.operators.validation import _check_edges, _qbin

    if not edges:
        raise ValueError(
            "foreach_batch_drift_q_by needs at least one pinned group "
            "edge list (group -> [edges])"
        )
    _require_str_keys(edges, "foreach_batch_drift_q_by edges")
    pinned = {g: [float(e) for e in es] for g, es in edges.items()}
    qs = {len(es) + 1 for es in pinned.values()}
    if len(qs) != 1:
        raise ValueError(
            f"all pinned groups must share one q — got edge lengths "
            f"{sorted(q - 1 for q in qs)}"
        )
    q = qs.pop()
    if q < 2:
        raise ValueError("each group needs at least one edge")
    for g, es in pinned.items():
        pinned[g] = _check_edges(es, q)
    sigs = {g: _edges_sig(es) for g, es in pinned.items()}
    fold = foreach_batch_additive(path, ("q", "grp", "pin", "bin"), {})

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        pins = spark.createDataFrame(
            [(g, sigs[g], pinned[g]) for g in sorted(pinned)],
            "grp string, pin string, edges array<double>",
        )
        v = F.col(col).cast("double")
        binned = (
            batch.where(v.isNotNull() & F.col(group_col).isNotNull())
            .select(
                F.col(group_col).cast("string").alias("grp"), v.alias("_v")
            )
            .join(F.broadcast(pins), "grp")
            .select(
                F.lit(int(q)).alias("q"),
                "grp",
                "pin",
                _qbin(F.col("_v"), F.col("edges"), q).alias("bin"),
            )
        )
        fold(binned, batch_id)

    return _apply


def read_drift_q_metrics_by(
    spark: SparkSession,
    ref: DataFrame,
    path: str,
    col: str,
    group_col: str,
    q: int = 10,
    ndigits: int = 6,
    ref_edges: dict | None = None,
) -> DataFrame:
    """Per-group equi-depth PSI/KS/JSD of the streamed distribution
    against the reference snapshot — the same rows
    ``quantile_drift_by`` would emit for the same data (shared
    ``drift_by_metrics_from_counts`` arithmetic). Edges come from
    ``ref_edges`` (group → published floats — REQUIRED for
    sketch-published pins) or are re-derived per group from ``ref``;
    either way every group's signature must match the sink's stored
    pin, groups are defined by the reference, and the cheap stored-q
    check runs before any reference scan."""
    from unimib_simpss_spark.operators.validation import (
        _check_edges,
        _edges_exprs,
        _grouped_joined_bin_counts,
        _grouped_qbinned_counts,
        drift_by_metrics_from_counts,
    )

    stored = _read_generation(spark, path)
    if stored is None:
        stored = spark.createDataFrame(
            [], "q int, grp string, pin string, bin long, n_rows long"
        )
    qcfg = [r["q"] for r in stored.select("q").distinct().collect()]
    if len(qcfg) > 1:
        raise ValueError(
            f"quantile-drift-by table at {path} holds {len(qcfg)} q "
            "configs — it must be written by ONE sink"
        )
    if qcfg and qcfg[0] != q:
        raise ValueError(
            f"quantile-drift-by table at {path} was built with "
            f"q={qcfg[0]}, caller asked for q={q}"
        )
    v = F.col(col).cast("double")
    refd = ref.where(v.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("_g"), v.alias("_v")
    )
    if ref_edges is not None:
        _require_str_keys(ref_edges, "read_drift_q_metrics_by ref_edges")
        edges = {
            g: _check_edges(es, q) for g, es in ref_edges.items()
        }
    else:
        edges = {
            r["_g"]: [float(r[f"_e{i}"]) for i in range(1, q)]
            for r in refd.groupBy("_g").agg(*_edges_exprs(q)).collect()
        }
    # store-and-assert every per-group pin — WITHOUT collapsing first:
    # a re-pinned sink leaves conflicting (grp, pin) row sets whose
    # counts would silently double in the join below (review r15
    # pass 2; the equal-width reader had the same guard)
    pin_rows = stored.select("grp", "pin").distinct().collect()
    by_group: dict = {}
    for r in pin_rows:
        by_group.setdefault(r["grp"], set()).add(r["pin"])
    for g, pins in by_group.items():
        if len(pins) > 1:
            raise ValueError(
                f"group {g!r} in {path} holds {len(pins)} conflicting "
                "edge-frame pins — the table was written by more than "
                "one sink config"
            )
        if g not in edges:
            raise ValueError(
                f"quantile-drift-by table at {path} holds counts for "
                f"group {g!r} absent from the reference — wrong "
                "reference snapshot?"
            )
        if _edges_sig(edges[g]) != pins.pop():
            raise ValueError(
                f"group {g!r} in {path} was pinned to a different "
                "edge frame than the reader's — re-pin the sink, "
                "pass the sink's published ref_edges, or pass the "
                "matching reference snapshot"
            )
    er = spark.createDataFrame(
        [(g, es) for g, es in sorted(edges.items())],
        "_g string, edges array<double>",
    )
    rc = _grouped_qbinned_counts(refd, er, q).withColumnRenamed("n", "_rn")
    cc = stored.select(
        F.col("grp").alias("_g"), "bin", F.col("n_rows").alias("_cn")
    )
    return drift_by_metrics_from_counts(
        _grouped_joined_bin_counts(er, rc, cc, q, spark),
        q,
        ndigits,
        group_col,
    )


# ------------------------------------------- fused drift-suite sink
def drift_suite_pin(ref_stats: DataFrame, group_col: str | None = None) -> dict:
    """Convert the batch suite's published ``ref_stats`` relation
    (``drift_gate_suite(...)["ref_stats"]``) into the driver-held pin
    dict the streaming twin takes: ``{"lo", "hi", "edges", "groups":
    {str group: (lo, hi, edges)}}``. Group keys are normalized through
    Spark's OWN cast-to-string (the quantile_edges_kll_by rule — the
    sink stringifies stream rows with the engine cast, and Python
    str() of a native value can disagree). The collect is groups+1
    rows by the publisher's construction.

    The group column binds BY NAME: either pass ``group_col``
    explicitly or leave it None to bind the single column that is not
    ``lo``/``hi``/``edges`` — a POSITIONAL bind (``columns[0]``) on a
    re-selected/column-reordered artifact silently misbinds and fails
    only through downstream validation errors pointing at the wrong
    cause (ADVICE r16)."""
    fixed = {"lo", "hi", "edges"}
    missing = fixed - set(ref_stats.columns)
    if missing:
        raise ValueError(
            f"ref_stats is missing published column(s) {sorted(missing)} "
            f"— got {ref_stats.columns}; pass "
            "drift_gate_suite(...)['ref_stats']"
        )
    if group_col is not None:
        if group_col not in ref_stats.columns:
            raise ValueError(
                f"ref_stats has no {group_col!r} column — got "
                f"{ref_stats.columns}"
            )
        gcol = group_col
    else:
        cand = [c for c in ref_stats.columns if c not in fixed]
        if len(cand) != 1:
            raise ValueError(
                "ref_stats must carry exactly one group column beside "
                f"lo/hi/edges — found {cand}; pass group_col explicitly"
            )
        gcol = cand[0]
    rows = ref_stats.select(
        F.col(gcol).cast("string").alias("_g"), "lo", "hi", "edges"
    ).collect()
    corpus = [r for r in rows if r["_g"] is None]
    if len(corpus) != 1:
        raise ValueError(
            f"ref_stats must hold exactly one NULL-group (corpus) row "
            f"— found {len(corpus)}"
        )
    return {
        "lo": float(corpus[0]["lo"]),
        "hi": float(corpus[0]["hi"]),
        "edges": [float(e) for e in corpus[0]["edges"]],
        "groups": {
            r["_g"]: (
                float(r["lo"]),
                float(r["hi"]),
                [float(e) for e in r["edges"]],
            )
            for r in rows
            if r["_g"] is not None
        },
    }


def _suite_pin_sig(stats: dict, bins: int, q: int) -> str:
    parts = [
        repr(float(stats["lo"])),
        repr(float(stats["hi"])),
        _edges_sig(stats["edges"]),
        str(bins),
        str(q),
    ]
    for g in sorted(stats["groups"]):
        lo, hi, es = stats["groups"][g]
        parts += [g, repr(float(lo)), repr(float(hi)), _edges_sig(es)]
    return hashlib.md5("\x1f".join(parts).encode()).hexdigest()


def _check_suite_pin(stats: dict, q: int) -> dict:
    """Validate the fused-suite pin through the SAME scalar checks the
    batch path applies; returns a normalized copy."""
    from unimib_simpss_spark.operators.validation import _check_edges

    for k in ("lo", "hi", "edges", "groups"):
        if k not in stats:
            raise ValueError(f"drift-suite pin is missing {k!r}")
    _require_str_keys(stats["groups"], "drift-suite pin groups")
    out = {
        "lo": float(stats["lo"]),
        "hi": float(stats["hi"]),
        "edges": _check_edges(stats["edges"], q),
        "groups": {},
    }
    for g, (lo, hi, es) in stats["groups"].items():
        try:
            out["groups"][g] = (float(lo), float(hi), _check_edges(es, q))
        except ValueError as e:
            raise ValueError(f"drift-suite pin: group {g!r}: {e}") from e
    return out


def _suite_gstats_rel(spark, stats: dict):
    return spark.createDataFrame(
        [
            (g, lo, hi, es)
            for g, (lo, hi, es) in sorted(stats["groups"].items())
        ],
        "grp string, _lo double, _hi double, _edges array<double>",
    )


def _suite_cells_expr(col: str, group_col: str, stats: dict, bins: int, q: int):
    """The 4-slot fused bin projection over a (stream or stored)
    relation — ONE shared construction for the sink's fold and any
    future batch-side reuse, mirroring drift_gate_suite's cells()
    verbatim (same _drift_bin/_qbin columns, stats as literals)."""
    from unimib_simpss_spark.operators.validation import _drift_bin, _qbin

    cedges = F.array(*[F.lit(e).cast("double") for e in stats["edges"]])
    clo, chi = F.lit(stats["lo"]), F.lit(stats["hi"])

    def apply(batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        pins = _suite_gstats_rel(spark, stats)
        v = F.col(col).cast("double")
        return (
            batch.where(v.isNotNull())
            .select(
                F.col(group_col).cast("string").alias("grp"), v.alias("_v")
            )
            .join(F.broadcast(pins), "grp", "left")
            .select(
                "grp",
                F.posexplode(
                    F.array(
                        _drift_bin(F.col("_v"), clo, chi, bins),
                        _qbin(F.col("_v"), cedges, q),
                        F.when(
                            F.col("_lo").isNotNull(),
                            _drift_bin(
                                F.col("_v"), F.col("_lo"), F.col("_hi"), bins
                            ),
                        ),
                        F.when(
                            F.col("_edges").isNotNull(),
                            _qbin(F.col("_v"), F.col("_edges"), q),
                        ),
                    )
                ).alias("slot", "bin"),
            )
            # slots 2/3 rows whose group is unpinned/NULL bin to NULL —
            # the batch derivations filter them, so the fold drops them
            # here (fewer stored rows, identical reads)
            .where(F.col("bin").isNotNull())
        )

    return apply


def foreach_batch_drift_suite(
    path: str,
    col: str,
    group_col: str,
    stats: dict,
    bins: int = 10,
    q: int = 10,
):
    """Streaming twin of the FUSED :func:`drift_gate_suite`: each
    micro-batch runs ONE 4-slot bin projection (corpus equal-width,
    corpus equi-depth, per-group equal-width, per-group equi-depth —
    the same posexplode shape as the batch suite) under the PINNED
    prior-release stats (``stats`` — :func:`drift_suite_pin`'s dict;
    driver-held, groups+1-sized) and folds ``(slot, grp, bin)`` counts
    into one additive generation-swap table, instead of four separate
    drift sinks each re-binning the same rows. The pin signature and
    (bins, q) config are STORED per row (store-and-assert);
    :func:`read_drift_suite_metrics` replays the counts through the
    batch suite's own derivations."""
    stats = _check_suite_pin(stats, q)
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    sig = _suite_pin_sig(stats, bins, q)
    fold = foreach_batch_additive(
        path, ("bins", "q", "pin", "slot", "grp", "bin"), {}
    )
    project = _suite_cells_expr(col, group_col, stats, bins, q)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        binned = project(batch).select(
            F.lit(int(bins)).alias("bins"),
            F.lit(int(q)).alias("q"),
            F.lit(sig).alias("pin"),
            "slot",
            "grp",
            "bin",
        )
        fold(binned, batch_id)

    return _apply


def read_drift_suite_metrics(
    spark: SparkSession,
    path: str,
    group_col: str,
    stats: dict,
    ref_cells: DataFrame,
    bins: int = 10,
    q: int = 10,
    ndigits: int = 6,
) -> dict:
    """All four drift gates from the streamed fused rollup — the same
    ``{"ew", "q", "ew_by", "q_by"}`` dict :func:`drift_gate_suite`
    returns, IN STRING GROUP SPACE (the per-group readers'
    convention), row-identical to the batch suite over the same data
    after any stream prefix. The reference side is fully PINNED — the
    same ``stats`` dict the sink was built with (store-and-asserted
    against every stored row) plus the batch suite's published
    ``ref_cells`` relation; a streaming reader never scans the prior
    release."""
    from unimib_simpss_spark.operators.validation import (
        _check_suite_cells,
        _suite_gates_from_cells,
    )

    stats = _check_suite_pin(stats, q)
    sig = _suite_pin_sig(stats, bins, q)
    stored = _read_generation(spark, path)
    if stored is None:
        stored = spark.createDataFrame(
            [],
            "bins int, q int, pin string, slot int, grp string, "
            "bin long, n_rows long",
        )
    cfg = stored.select("bins", "q", "pin").distinct().collect()
    if len(cfg) > 1:
        raise ValueError(
            f"drift-suite table at {path} holds {len(cfg)} configs — "
            "it must be written by ONE sink"
        )
    if cfg and (
        cfg[0]["bins"] != bins or cfg[0]["q"] != q or cfg[0]["pin"] != sig
    ):
        raise ValueError(
            f"drift-suite table at {path} was pinned to a different "
            "(bins, q, stats) config than the reader's — re-pin the "
            "sink or pass the matching published stats"
        )
    # bind the artifact's group column BY NAME (the reader's group_col
    # is the publisher's by contract) — the old positional columns[1]
    # misbinds a re-selected/column-reordered artifact and fails only
    # via downstream validation errors that point at the wrong cause
    # (ADVICE r16)
    if group_col not in ref_cells.columns:
        raise ValueError(
            f"ref_cells has no {group_col!r} column — got "
            f"{ref_cells.columns}; pass drift_gate_suite(...)"
            "['ref_cells'] published under the same group_col"
        )
    gcol = group_col
    # the published artifact rides the SAME shape check the batch
    # suite's pinned path applies — mismatched (bins, q) artifacts
    # would otherwise silently truncate reference mass in the
    # zero-fill joins (review r16 pass 3)
    rc = _check_suite_cells(
        ref_cells.select(
            F.col("slot").cast("int").alias("slot"),
            F.col(gcol).cast("string").alias("_g"),
            F.col("bin").cast("long").alias("bin"),
            F.col("n").cast("long").alias("n"),
        ),
        bins,
        q,
        gcol,
    )
    cc = stored.select(
        "slot", F.col("grp").alias("_g"), "bin", F.col("n_rows").alias("n")
    )
    gstats = _suite_gstats_rel(spark, stats).select(
        F.col("grp").alias("_g")
    )
    return _suite_gates_from_cells(
        rc, cc, gstats, bins, q, ndigits, group_col, spark
    )
