"""Count-min sketch over a token column (SURVEY.md §2.7 [EXT]).

The mergeable-sketch pattern for frequency estimation under fixed
memory: a depth×width integer grid where cell (j, c) holds the count of
every token whose j-th hash lands on column c. Estimates read the MIN
over a token's depth cells — always an overestimate, bounded by
``true + εN`` with ``ε = e/width`` at confidence ``1 - e^-depth``
(Cormode & Muthukrishnan, J. Algorithms 2005).

Why this matters at 100 TB when exact ``groupBy(token).count()`` is
itself scalable: the sketch is FIXED-SIZE (depth×width cells, here 4 KiB
of longs) no matter how many distinct tokens exist, and cell-wise
ADDITIVE — sketches of shards/batches/days merge by summing cells, so
it drops into streaming state, cross-corpus transfer, or a
``foreachBatch`` accumulator where the exact count relation (one row
per distinct token) cannot.

Everything is relational: build is explode → one map-side-combinable
groupBy on (row, col) — output bounded by depth×width; estimate is a
keyed join against the cells. Hashing is ``xxhash64(token, seed_j)``,
deterministic across runs and partitionings.

The reference (PCampi/unimib-simpss) exposes only exact counters
(messages_read/messages_sent, mqtt_kafka_producer.py:37-38); the
sketches are the [EXT] fixed-memory form those counters need once the
key space is unbounded. Streaming-state twin:
streaming/stateful.py:streaming_token_cms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 512


def _cell(col, j: int, width: int):
    return F.pmod(F.xxhash64(col, F.lit(j)), F.lit(width))


def cms_build(
    df: DataFrame, col: str, depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH
) -> DataFrame:
    """Sketch a token column: returns (j, c, cnt) cells, ≤ depth×width rows.

    One explode (depth rows per input row, all narrow) and one
    combinable shuffle whose output cardinality is the GRID size, not
    the token count.
    """
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cell(F.col(col), j, width).alias("c")
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jc")
    )
    return rows.groupBy(F.col("jc.j").alias("j"), F.col("jc.c").alias("c")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the same (depth, width): cell-wise
    sum. Exactly equals the sketch of the concatenated inputs (additive
    counters), which the property test asserts."""
    return (
        a.unionAll(b)
        .groupBy("j", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    tokens: DataFrame,
    col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Point-estimate counts for a relation of tokens: (token, est).

    Each token probes its depth cells (explode) and takes the MIN —
    one keyed join against the bounded cells relation (AQE broadcasts
    the sketch side: it is at most depth×width rows).
    """
    probes = tokens.select(
        F.col(col).alias("token"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cell(F.col(col), j, width).alias("c")
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jc"),
    ).select("token", F.col("jc.j").alias("j"), F.col("jc.c").alias("c"))
    return (
        probes.join(F.broadcast(sketch), ["j", "c"], "left")
        .fillna(0, subset=["cnt"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est"))
    )


# --------------------------------------------------------------- HLL
# Portable HyperLogLog (Flajolet et al. 2007): unlike
# F.approx_count_distinct (whose HLL++ sketch is engine-private, so no
# value-level oracle can exist — approx_distinct_builtin's caveat), this one is built from
# the shared md5 hash space and INTEGER-EXACT register arithmetic, so
# Spark and DuckDB produce bit-identical estimates:
#
# - bucket = top ``p`` bits of the 60-bit md5 hash; rank = leading-zero
#   count of the remaining 51 bits + 1 (via length(bin(x)) — string
#   ops, no float log2 at the boundary);
# - the harmonic sum Σ 2^-M_j is computed as the LONG Σ 2^(52-M_j)
#   (each term exact, integer addition order-independent — no
#   float-sum-order nondeterminism across partitionings/engines) and
#   descaled by 2^52 once, at the end;
# - registers are MERGEABLE by max: union shard/day register relations
#   and re-max before estimating (the re-aggregatable sketch property
#   CMS has by cell addition).
#
# At 100 TB: one map-side-combinable shuffle to (groups × 2^p) register
# rows — no distinct shuffle, fixed memory per group. Standard error
# ~1.04/sqrt(2^p) (~4.6% at p=9).

HLL_P = 9  # default precision; all geometry derives from the p in use


def _hll_alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, group_cols: list, col, p: int = HLL_P) -> DataFrame:
    """(group..., b, M): max-rank register relation — the mergeable
    sketch state (union + re-max merges shards). All register geometry
    (mask width, max rank) derives from ``p`` — any precision works,
    not just the default."""
    from unimib_simpss_spark.functions.hashing import hash64

    rest_bits = 60 - p
    mask = (1 << rest_bits) - 1
    rmax = rest_bits + 1
    c = F.col(col) if isinstance(col, str) else col
    # NULL values carry no identity: drop them rather than let a NULL
    # hash produce a (NULL, NULL) register row that inflates n_present
    df = df.where(c.isNotNull())
    h = hash64(c.cast("string"))
    rest = h.bitwiseAND(F.lit(mask))
    rank = F.when(rest == 0, F.lit(rmax)).otherwise(
        F.lit(rmax) - F.length(F.bin(rest))
    )
    return (
        df.select(
            *group_cols,
            F.shiftright(h, rest_bits).alias("b"),
            rank.alias("r"),
        )
        .groupBy(*group_cols, "b")
        .agg(F.max("r").alias("M"))
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list,
    col,
    p: int = HLL_P,
    ndigits: int = 4,
) -> DataFrame:
    """(group..., hll_est): deterministic HLL cardinality estimate with
    the standard small-range (linear-counting) correction."""
    regs = hll_registers(df, group_cols, col, p)
    return hll_distinct_from_registers(regs, group_cols, p, ndigits)


def hll_distinct_sql(
    table: str,
    group_col: str,
    col_expr: str,
    p: int = HLL_P,
    ndigits: int = 4,
) -> str:
    """DuckDB twin of :func:`hll_distinct` — same hash, same integer
    register arithmetic, same correction constants."""
    from unimib_simpss_spark.functions.hashing import hash64_sql

    m = 1 << p
    rest_bits = 60 - p
    mask = (1 << rest_bits) - 1
    rmax = rest_bits + 1
    scale = 1 << rmax
    hsql = hash64_sql(f"CAST({col_expr} AS VARCHAR)")
    null_guard = f"WHERE {col_expr} IS NOT NULL"
    e_raw = (
        f"({_hll_alpha(m) * m * m!r} / "
        f"(CAST(s_present + ({m} - n_present) * {scale} AS DOUBLE)"
        f" / {float(scale)!r}))"
    )
    return f"""
    WITH hll_h AS (
        SELECT {group_col} AS g, {hsql} AS h FROM {table} {null_guard}
    ), hll_reg AS (
        SELECT g, h // {1 << rest_bits} AS b,
               max(CASE WHEN (h & {mask}) = 0 THEN {rmax}
                        ELSE {rmax} - length(bin(h & {mask})) END) AS M
        FROM hll_h GROUP BY g, b
    ), hll_g AS (
        SELECT g, sum(CAST(pow(2.0, {rmax} - M) AS BIGINT)) AS s_present,
               count(*) AS n_present
        FROM hll_reg GROUP BY g
    )
    SELECT g AS {group_col},
           round(CASE WHEN {e_raw} <= {2.5 * m} AND ({m} - n_present) > 0
                 THEN {float(m)!r} * ln({float(m)!r}
                                        / CAST({m} - n_present AS DOUBLE))
                 ELSE {e_raw} END, {ndigits}) AS hll_est
    FROM hll_g
    """


def cms_heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Top-k tokens by CMS estimate: (token, est, rank).

    Batch-mode demo of the sketch path: build once, probe the distinct
    tokens, rank by estimate (ties: token asc). Estimates are
    overestimates, so every TRUE heavy hitter survives the cut —
    CMS trades false positives, never false negatives.
    """
    from unimib_simpss_spark.operators.ranking import broadcast_topk_rank

    sketch = cms_build(df, col, depth, width)
    distinct = df.select(F.col(col)).distinct()
    est = cms_estimate(sketch, distinct, col, depth, width)
    # window-free top-k rank (shared broadcast_topk_rank pattern)
    return broadcast_topk_rank(est, k, "est", "token")


# ------------------------------------------------- portable CMS + Bloom
# Same move as the HLL above: the engine-fast xxhash64 CMS has no
# value-level oracle (xxhash64 is Spark-private), so these twins hash
# with the shared md5-based hash64 — Spark and DuckDB land every token
# in the SAME cell/bit, and the driver's value-hash compare verifies the
# sketch ESTIMATES themselves, not just their bounds. Production swaps
# the hash back to xxhash64 (one Column expression); the sketch algebra
# is identical.


def portable_cell(col, j: int, width: int):
    """Hash-row ``j``'s cell index for a value: hash64("j:" || v) % width.

    hash64 is non-negative (60 bits), so ``pmod`` here and DuckDB's
    ``%`` agree — no negative-modulus divergence between engines."""
    from unimib_simpss_spark.functions.hashing import hash64

    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(hash64(F.concat(F.lit(f"{j}:"), c)), F.lit(width))


def portable_cell_sql(expr: str, j: int, width: int) -> str:
    """DuckDB twin of :func:`portable_cell`."""
    from unimib_simpss_spark.functions.hashing import hash64_sql

    salted = f"'{j}:' || {expr}"
    return f"({hash64_sql(salted)} % {width})"


def cms_cells_from_counts(
    counts: DataFrame,
    token_col: str = "token",
    cnt_col: str = "cnt",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Portable-hash CMS grid built from an ALREADY-AGGREGATED
    ``(token, cnt)`` relation: cell (j, c) = Σ cnt over tokens hashing
    there. Cell-wise identical to sketching the raw token stream
    (counter addition is associative), but the input is the
    vocabulary-sized count relation — when that relation already exists
    (q66's coverage curve), the sketch costs one vocab-sized combinable
    rollup and ZERO extra corpus passes, and Spark's ReusedExchange
    serves all consumers of the count shuffle."""
    rows = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        portable_cell(F.col(token_col), j, width).alias("c"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jc"),
        F.col(cnt_col).alias("_cnt"),
    )
    return rows.groupBy(F.col("jc.j").alias("j"), F.col("jc.c").alias("c")).agg(
        F.sum("_cnt").alias("cell_cnt")
    )


def cms_estimate_portable(
    cells: DataFrame,
    tokens: DataFrame,
    col: str = "token",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    est_col: str = "cms_est",
) -> DataFrame:
    """Point estimates against a :func:`cms_cells_from_counts` grid:
    ``(col, est_col)``, est = MIN over the value's depth cells. The
    grid is ≤ depth×width rows — broadcast by construction."""
    probes = tokens.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        portable_cell(F.col(col), j, width).alias("c"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jc"),
    ).select(col, F.col("jc.j").alias("j"), F.col("jc.c").alias("c"))
    return (
        probes.join(F.broadcast(cells), ["j", "c"], "left")
        .fillna(0, subset=["cell_cnt"])
        .groupBy(col)
        .agg(F.min("cell_cnt").cast("long").alias(est_col))
    )


# Bloom filter (Bloom 1970): the membership twin of the CMS — k hash
# rows over an m-bit space, a value is "possibly present" iff ALL k of
# its bits are set, DEFINITELY absent otherwise (one-sided error: false
# positives at rate ~(1-e^{-kn/m})^k, never false negatives). The
# relational form keeps the bit-set as a ≤m-row (pos) relation:
# build = one combinable distinct over k narrow hashes per member;
# probe = a broadcast join counting matched bits. Mergeable by UNION
# (bitwise OR). At 100 TB the gate runs per ingest batch against a
# persisted corpus bit relation — the cheap first stage in front of the
# exact/near-dup machinery (q61), which only sees bloom survivors.

BLOOM_M = 8192
BLOOM_K = 4


def bloom_bits(
    df: DataFrame, col, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Build the bit-set relation ``(pos)`` for a member column: the
    DISTINCT positions hash64("j:" || v) % m for j < k. ≤ m rows no
    matter the member count; shards merge by union+distinct."""
    c = F.col(col) if isinstance(col, str) else col
    # NULL members hash to NULL positions — harmless to probes (NULL
    # never equi-joins) but a meaningless row polluting merged or
    # persisted bit relations; drop them, matching hll_registers
    src = df.select(c.alias("_v")).where(F.col("_v").isNotNull())
    rows = src.select(
        F.explode(
            F.array(*[portable_cell(F.col("_v"), j, m) for j in range(k)])
        ).alias("pos")
    )
    return rows.distinct()


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    col,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    hit_col: str = "bloom_hit",
) -> DataFrame:
    """Membership test: ``probes`` + a ``hit_col`` long (1 = possibly
    present — all k bits set; 0 = definitely absent). The ≤ m-row bit
    relation is packed into ceil(m/64) signed longs by one combinable
    aggregate and collected once (bounded driver state: the words are
    1 KiB at the default m=8192 — m is a fixed design constant, never
    data-sized), then the probe is a pure map-side column expression —
    an array-literal ``getbit`` per hash row. This replaces the former
    k broadcast left joins (k broadcast-build jobs + k hash probes per
    row + a k-times-wider plan) with k O(1) word lookups and NO join:
    at scale the probe stage is map-only and nothing ships at
    execution time (optimization r19; guide §3.3). The packing
    aggregate runs when this is CALLED — one small eager job, the same
    bounded-collect regime as the IVF centroid loads.

    Row-preserving: duplicate probe rows each get their own verdict
    (no groupBy collapses the batch — a replayed record must still
    count once per occurrence downstream). NULL probe values yield
    NULL bit tests which coalesce to verdict 0 — identical to the join
    form, where a NULL key never equi-joins."""
    c = F.col(col) if isinstance(col, str) else col
    n_words = (m + 63) // 64
    packed = (
        bits.select("pos")
        .where(F.col("pos").isNotNull())
        .select(
            "pos",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("b"),
        )
        .groupBy("w")
        .agg(
            F.bit_or("b").alias("bits"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
        )
        .collect()
    )
    words = [0] * n_words
    for r in packed:
        # a position outside [0, m) would index past the words or alias
        # into the last ones through Python's negative indexing
        if r["lo"] < 0 or r["hi"] >= m:
            raise ValueError(
                f"bloom bit relation holds positions {r['lo']}..{r['hi']} "
                f"outside [0, {m}): it was built with a different m than "
                f"this probe's m={m}"
            )
        words[r["w"]] = r["bits"]
    # pin the literal's type: a mask whose set words all happen to fit
    # 32 bits would infer array<int>, and getbit on an int rejects bit
    # positions >= 32 (caught by the property suite)
    mask = F.lit(words).cast("array<long>")
    hit = F.lit(True)
    for j in range(k):
        cell = portable_cell(c, j, m)
        word = F.element_at(
            mask, (F.shiftright(cell, 6) + 1).cast("int")
        )
        hit = hit & (F.getbit(word, cell.bitwiseAND(F.lit(63))) == 1)
    return probes.select(
        *probes.columns,
        F.coalesce(hit, F.lit(False)).cast("long").alias(hit_col),
    )


def hist_quantile(
    df: DataFrame,
    group_cols: list,
    val_col: str,
    quantiles: dict[str, float],
    bins: int = 128,
    ndigits: int = 2,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Fixed-memory quantile estimates from an equi-width histogram:
    one row per group with a rounded estimate column per requested
    quantile (estimate = upper edge of the first bin whose cumulative
    count reaches p·n; error ≤ (max−min)/bins by construction).

    This is the mergeable-sketch answer to percentiles at scale: exact
    ``percentile_disc`` must materialize each group's sorted values
    (q53's exact columns — fine when groups fit an executor), while the
    histogram is two combinable aggregate passes (min/max/count, then
    bin counts) with ``bins`` longs of state per group — mergeable
    cell-wise like the CMS, so it drops into shard rollups and
    streaming state where a sort cannot. The classic equi-width variant
    of the quantile-sketch family (t-digest/GK/KLL are the
    variable-width refinements; this one is chosen for value-level
    cross-engine verifiability: integer bin counts + one fixed
    float expression per estimate, identical operation order in Spark
    and DuckDB).

    Plan: groups-sized stats relation broadcast back onto the rows
    (second pass computes each row's bin), combinable (group, bin)
    count, per-group cumulative window over ≤ ``bins`` rows, then one
    conditional-min aggregate per quantile. Nothing wider than the
    histogram ever shuffles after the bin count.

    NULL values are dropped up front (both engines): a NULL would bin
    to a NULL row whose window position differs across engines (Spark
    sorts nulls first, DuckDB last) — and a quantile of the non-null
    population is what the exact percentile computes anyway.

    ``stats``: optionally supply the per-group ``(group..., vmin,
    vmax, n)`` relation instead of letting this function aggregate it —
    when the caller's plan already aggregates the same rows (q53's
    moments), riding min/max/count on that aggregate saves one full
    scan (the histogram then costs exactly ONE extra pass: the bin
    count). The supplied stats MUST describe the non-null double-cast
    population (``n`` = count of non-null values)."""
    v = F.col(val_col).cast("double")
    df = df.where(v.isNotNull())
    if stats is None:
        stats = df.groupBy(*group_cols).agg(
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
            F.count(F.lit(1)).alias("n"),
        )
    span = F.col("vmax") - F.col("vmin")
    bin_ = F.when(F.col("vmax") == F.col("vmin"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(bins - 1).cast("long"),
            F.floor((v - F.col("vmin")) / span * F.lit(bins)),
        )
    )
    hist = (
        df.join(F.broadcast(stats), group_cols)
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("bc"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("bc").over(w))
    edge = F.col("vmin") + (F.col("bin") + 1) * (
        F.col("vmax") - F.col("vmin")
    ) / F.lit(float(bins))
    return (
        cum.join(F.broadcast(stats), group_cols)
        .groupBy(*group_cols)
        .agg(
            *[
                F.round(
                    F.min(F.when(F.col("cum") >= F.lit(p) * F.col("n"), edge)),
                    ndigits,
                ).alias(name)
                for name, p in quantiles.items()
            ]
        )
    )


def hist_quantile_sql(
    table: str,
    group_col: str,
    val_expr: str,
    quantiles: dict[str, float],
    bins: int = 128,
    ndigits: int = 2,
) -> str:
    """DuckDB twin of :func:`hist_quantile` — identical bin arithmetic
    and estimate expression (same operation order, so the doubles match
    bit-for-bit)."""
    est_cols = ",\n           ".join(
        f"round(min(CASE WHEN cum >= {p!r} * n THEN"
        f" vmin + (bin + 1) * (vmax - vmin) / {float(bins)!r} END),"
        f" {ndigits}) AS {name}"
        for name, p in quantiles.items()
    )
    return f"""
    WITH hq_src AS (
        -- TRY_CAST + filter on the CAST result mirrors Spark's
        -- non-ANSI cast-to-NULL + isNotNull on the cast: both engines
        -- drop exactly the rows whose value doesn't cast to a double
        SELECT g, v FROM (
            SELECT {group_col} AS g, TRY_CAST({val_expr} AS DOUBLE) AS v
            FROM {table}
        ) WHERE v IS NOT NULL
    ),
    hq_stats AS (
        SELECT g, min(v) AS vmin, max(v) AS vmax, count(*) AS n
        FROM hq_src GROUP BY g
    ),
    hq_hist AS (
        SELECT g, bin, count(*) AS bc FROM (
            SELECT s.g,
                   CASE WHEN s.vmax = s.vmin THEN CAST(0 AS BIGINT)
                        ELSE least(CAST({bins - 1} AS BIGINT),
                                   CAST(floor((t.v - s.vmin)
                                              / (s.vmax - s.vmin) * {bins})
                                        AS BIGINT))
                   END AS bin
            FROM hq_src t JOIN hq_stats s ON t.g = s.g
        ) GROUP BY g, bin
    ),
    hq_cum AS (
        SELECT g, bin, sum(bc) OVER (
            PARTITION BY g ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hq_hist
    )
    SELECT c.g AS {group_col}, {est_cols}
    FROM hq_cum c JOIN hq_stats s ON c.g = s.g
    GROUP BY c.g
    """


def bloom_sql(
    member_expr: str,
    member_from: str,
    probe_expr: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> str:
    """DuckDB boolean-int SQL fragment: 1 iff every bloom bit of
    ``probe_expr`` is set by the members (``member_expr`` over
    ``member_from``). Correlated form for use inside a SELECT list."""
    probes = " UNION ALL ".join(
        f"SELECT {portable_cell_sql(probe_expr, j, m)} AS pos" for j in range(k)
    )
    member_bits = " UNION ALL ".join(
        f"SELECT {portable_cell_sql(member_expr, j, m)} AS pos FROM {member_from}"
        for j in range(k)
    )
    return (
        f"(CASE WHEN (SELECT count(*) FROM ({probes}) p"
        f" WHERE p.pos IN ({member_bits})) = {k}"
        f" THEN 1 ELSE 0 END)"
    )


def hll_intersect_est(
    a: DataFrame,
    b: DataFrame,
    group_cols: list,
    p: int = HLL_P,
    ndigits: int = 4,
) -> DataFrame:
    """Distinct-overlap estimate between two register relations
    (:func:`hll_registers` outputs) by inclusion-exclusion:
    ``|A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)``, where the union sketch
    is the max-merge of the registers (the HLL merge identity — no
    second data pass, only register algebra).

    The cross-shard/source overlap question ("how many users appear in
    BOTH event streams?") answered from already-built sketch state:
    at 100 TB the register relations are the persisted per-shard
    artifact, and this costs three register-sized aggregates. Error
    compounds over the three estimates (inclusion-exclusion is the
    weak spot of HLL algebra — a small intersection under two large
    sets can even go negative; clamped at 0), which the accuracy test
    bounds."""
    est_a = hll_distinct_from_registers(a, group_cols, p, ndigits=12).withColumnRenamed(
        "hll_est", "_ea"
    )
    est_b = hll_distinct_from_registers(b, group_cols, p, ndigits=12).withColumnRenamed(
        "hll_est", "_eb"
    )
    # union BY NAME (via an explicit shared projection): the two
    # register relations may carry the same columns in a different
    # order (group_cols listed differently at build time), and a
    # positional unionAll would silently scramble registers into the
    # wrong buckets — garbage estimates with no error
    reg_cols = [*group_cols, "b", "M"]
    est_u = hll_distinct_from_registers(
        a.select(*reg_cols).unionByName(b.select(*reg_cols)),
        group_cols,
        p,
        ndigits=12,
    ).withColumnRenamed("hll_est", "_eu")
    # outer from the union estimate (it covers every group either side
    # has): a group present on one side only is a true 0-overlap row,
    # not a silently-dropped one
    joined = est_u.join(est_a, group_cols, "left").join(
        est_b, group_cols, "left"
    )
    return joined.select(
        *group_cols,
        F.round(
            F.greatest(
                F.coalesce(F.col("_ea"), F.lit(0.0))
                + F.coalesce(F.col("_eb"), F.lit(0.0))
                - F.col("_eu"),
                F.lit(0.0),
            ),
            ndigits,
        ).alias("hll_intersect_est"),
    )


def hll_distinct_from_registers(
    regs: DataFrame,
    group_cols: list,
    p: int = HLL_P,
    ndigits: int = 4,
) -> DataFrame:
    """Estimate from an EXISTING register relation (the second half of
    :func:`hll_distinct`, split out so merged/unioned register state —
    shard rollups, streaming snapshots, set algebra — can be estimated
    without re-hashing any data).

    Re-maxes defensively first: a RAW union of shard register relations
    has duplicate (group, b) rows, which would double-count buckets in
    n_present (zeros goes negative, the estimate is garbage) — the
    max-merge makes any such input correct and is a no-op on
    already-merged state."""
    m = 1 << p
    rmax = 60 - p + 1
    scale = 1 << rmax
    regs = regs.groupBy(*group_cols, "b").agg(F.max("M").alias("M"))
    gs = regs.groupBy(*group_cols).agg(
        F.sum(F.expr(f"CAST(pow(2.0, {rmax} - M) AS BIGINT)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    zeros = F.lit(m) - F.col("n_present")
    inv = (F.col("s_present") + zeros * F.lit(scale)).cast("double") / F.lit(
        float(scale)
    )
    e_raw = F.lit(_hll_alpha(m) * m * m) / inv
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return gs.select(*group_cols, F.round(est, ndigits).alias("hll_est"))


# ----------------------------------------------------------- KLL quantiles
def kll_quantiles(
    df: DataFrame,
    group_cols: list,
    val_col: str,
    quantiles: dict[str, float],
    k: int = 200,
    ndigits: int = 4,
) -> DataFrame:
    """Mergeable rank-error quantile estimates per group via the KLL
    sketch (``functions/kll.py``; VERDICT r9 #7) — the heavy-tail-proof
    companion to :func:`hist_quantile`, whose equi-width error bound
    ``span/bins`` degrades when one outlier stretches the span. KLL's
    bound is on RANK (±O(1/k) of true rank, any distribution) with
    ``O(k·log(n/k))`` items of state.

    The 100 TB shape — a two-stage partial-aggregate fold, the same
    pattern as kmeans_cells' centroid update:

    1. ``mapInPandas`` builds ONE partial sketch per (partition, group):
       executor state is a dict of small sketches, never the values;
       output is |partitions| × |groups| sketch rows (bytes).
    2. ``groupBy(group).applyInPandas`` merges each group's ≤
       |partitions| partial sketches and reads the estimates — the only
       shuffle moves serialized sketches (~KB each), never data rows.

    NULLs are dropped up front (the quantile of the non-null population,
    matching ``hist_quantile`` / exact ``percentile_disc`` semantics).
    No portable DuckDB twin exists (compaction order is engine-local),
    so the query surface is rows-only; accuracy is property-tested
    against exact sorts in tests/test_sketches.py.
    """
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from unimib_simpss_spark.functions.kll import KLL

    v = F.col(val_col).cast("double")
    # NULL AND NaN are skipped (one convention for both twins: the
    # streaming form drops NaN via pd.isna; a NaN reaching KLL.add's
    # insort would corrupt the sorted-level invariant silently).
    src = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *group_cols, v.alias("_v")
    )

    partial_schema = StructType(
        [src.schema[c] for c in group_cols]
        + [StructField("_sk", BinaryType(), False)]
    )

    def build_partials(batches):
        import pandas as pd

        sketches: dict[tuple, KLL] = {}
        for pdf in batches:
            keys = list(zip(*(pdf[c] for c in group_cols)))
            for key, val in zip(keys, pdf["_v"]):
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = KLL(k)
                sk.add(float(val))
        if sketches:
            rows = [(*key, sk.to_bytes()) for key, sk in sketches.items()]
            yield pd.DataFrame(rows, columns=[*group_cols, "_sk"])

    partials = src.mapInPandas(build_partials, partial_schema)

    out_schema = StructType(
        [src.schema[c] for c in group_cols]
        + [StructField("n", LongType(), False)]
        + [StructField(name, DoubleType(), True) for name in quantiles]
    )
    names = list(quantiles)
    ps = [quantiles[n] for n in names]

    def merge_group(pdf):
        import pandas as pd

        # KLL merge is deterministic but ORDER-SENSITIVE, and Spark does
        # not guarantee row order within an applyInPandas group (shuffle
        # fetch order varies run to run) — fold in sorted-bytes order so
        # the same partials always produce the same merged sketch.
        raws = sorted(bytes(r) for r in pdf["_sk"])
        merged = KLL.from_bytes(raws[0])
        for raw in raws[1:]:
            merged.merge(KLL.from_bytes(raw))
        ests = [round(e, ndigits) for e in merged.quantiles(ps)]
        key_vals = [pdf[c].iloc[0] for c in group_cols]
        return pd.DataFrame(
            [[*key_vals, merged.n, *ests]], columns=[*group_cols, "n", *names]
        )

    return partials.groupBy(*group_cols).applyInPandas(merge_group, out_schema)


# ------------------------------------------------- join-size estimation
def join_cardinality_exact(
    a: DataFrame, a_key: str, b: DataFrame, b_key: str
) -> DataFrame:
    """Exact inner-equi-join output size WITHOUT running the join:
    ``|A ⋈ B| = Σ_k cntA(k) · cntB(k)`` — two combinable per-key
    counts joined on the key (cost bounded by key cardinality, never
    the join's output size, which is the whole point: a skewed join
    can be orders of magnitude larger than either input). Returns one
    row ``(join_rows, n_shared_keys, max_key_product)`` — the third
    column is the single hottest key's contribution, the number that
    decides whether to salt."""
    ca = a.groupBy(F.col(a_key).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    cb = b.groupBy(F.col(b_key).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    # Disjoint key sets → empty inner join → sum/max aggregate to NULL;
    # an empty join is a REAL answer (0 rows, 0 hottest key), so
    # coalesce — same silent-NULL fix cms_join_size applies to
    # non-overlapping sketch rows.
    return ca.join(cb, "k").agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias(
            "join_rows"
        ),
        F.count(F.lit(1)).alias("n_shared_keys"),
        F.coalesce(F.max(F.col("ca") * F.col("cb")), F.lit(0)).alias(
            "max_key_product"
        ),
    )


def cms_join_size(
    a_sketch: DataFrame, b_sketch: DataFrame, depth: int = DEFAULT_DEPTH
) -> DataFrame:
    """Join-size estimate from two count-min sketches of the join keys
    (same depth/width): the CMS INNER PRODUCT —
    ``est_j = Σ_c cntA(j,c) · cntB(j,c)`` per hash row, min over rows
    (Cormode & Muthukrishnan 2005 §4.3). Always an OVERESTIMATE of
    Σ_k cntA(k)·cntB(k) (colliding keys only add cross terms), within
    ``ε·|A|·|B|`` at the sketch's usual confidence.

    Why it exists next to the exact form: the sketches are fixed-size
    (depth×width cells) and mergeable, so the estimate works from
    PRE-AGGREGATED state — per-day/per-shard key sketches a pipeline
    already maintains — without touching either input again; the exact
    form needs a pass over both. Returns one row ``(est_join_rows)``.

    A hash row where the two sketches share NO populated cell has a
    TRUE inner product of 0 — exactly the row that proves the join is
    empty — so missing rows must enter the min as 0, not silently drop
    from it (left-join against the full 0..depth-1 row ids).
    """
    j = (
        a_sketch.select("j", "c", F.col("cnt").alias("ca"))
        .join(
            b_sketch.select("j", "c", F.col("cnt").alias("cb")), ["j", "c"]
        )
        .groupBy("j")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    all_rows = a_sketch.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("j")
    )
    return (
        all_rows.join(j, "j", "left")
        .select(F.coalesce("ip", F.lit(0)).alias("ip"))
        .agg(F.min("ip").alias("est_join_rows"))
    )
