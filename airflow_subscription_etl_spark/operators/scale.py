"""Scale techniques as reusable operators (100 TB posture).

AQE (on in session.py) already re-plans skewed sort-merge joins at
runtime; these helpers cover the cases AQE cannot:

- ``salted_join`` — explicit key salting for joins AQE can't split
  (e.g. when the skewed side feeds a window, or on engines/stages where
  AQE skew handling doesn't apply).
- ``salted_distribution_agg`` — two-phase aggregation for hot grouping
  keys where a single reducer would own a mega-group.
- ``write_bucketed`` — persistently co-located tables (read back
  with ``spark.table``): repeated joins/aggregations on the bucket key
  run with NO shuffle at all (the classic "pay the shuffle once" move
  for fact tables that join on the same key every day).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-mitigating equi-join: scatter the big side's hot keys over
    ``salt`` sub-keys and replicate the small side once per sub-key.

    Shuffle volume: big side unchanged (each row gets ONE salt), small
    side ×salt — the standard trade when `key` has heavy hitters. The
    output is exactly the plain join's output (salt columns dropped).

    ``how`` is restricted to the joins that preserve that contract:
    inner/left (+ semi/anti) — each BIG row carries exactly one salt,
    so its match/no-match outcome equals the plain join's. right/full
    would emit every UNMATCHED small row once per salt replica (silent
    ×salt duplication — r12 review), so they raise; for those, salt
    the other way around or use a plain join with AQE skew handling.
    """
    allowed = {"inner", "left", "leftouter", "left_outer",
               "semi", "leftsemi", "left_semi",
               "anti", "leftanti", "left_anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports inner/left/semi/anti, got {how!r}: "
            "the small side is replicated once per salt, so right/full "
            "would duplicate every unmatched small row x salt"
        )
    big_s = big.withColumn("_salt", (F.rand(seed) * salt).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return big_s.join(small_s, on=[key, "_salt"], how=how).drop("_salt")


def salted_distribution_agg(
    df: DataFrame,
    key: str,
    value_col: str,
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase count/sum for hot grouping keys.

    Phase 1 aggregates (key, salt) partials — hot keys split across
    ``salt`` reducers; phase 2 combines ``salt`` tiny rows per key.
    (Spark's hash aggregate already does map-side partials; this guards
    the REDUCE side when one key's partials alone overwhelm a task.)
    """
    partial = (
        df.withColumn("_salt", (F.rand(seed) * salt).cast("int"))
        .groupBy(key, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(value_col).alias("_s"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_s").alias(f"sum_{value_col}"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    num_buckets: int = 32,
    sort_key: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key.

    Subsequent equi-joins/aggregations between tables bucketed the same
    way on the same key execute WITHOUT an Exchange: Spark trusts the
    on-disk hash distribution. This is the batch-pipeline answer to
    "this fact table joins on custkey every single run".
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, bucket_key)
    if sort_key:
        w = w.sortBy(sort_key)
    w.saveAsTable(table)


#: measure ops whose states merge by re-applying themselves (sum of
#: sums, min of mins, max of maxes); COUNT merges by SUM.
_MERGE_OP = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def agg_state(
    df: DataFrame, keys: list[str], measures: list[tuple[str, str]]
) -> DataFrame:
    """Build a mergeable aggregate state: one row per key with columns
    ``{op}_{col}`` for each (col, op) measure, op ∈ {sum, count, min,
    max} — the commutative-monoid aggregates whose partial states
    combine losslessly. (avg is derivable as sum/count; distinct-count
    needs a sketch — see :mod:`.sketch`.)"""
    aggs = []
    for col, op in measures:
        name = f"{op}_{col}"
        if op == "count":
            aggs.append(F.count(F.lit(1)).alias(name))
        elif op in ("sum", "min", "max"):
            aggs.append(getattr(F, op)(col).alias(name))
        else:  # pragma: no cover - guarded by tests
            raise ValueError(f"unmergeable op: {op}")
    return df.groupBy(*keys).agg(*aggs)


def merge_agg_state(
    running: DataFrame,
    delta: DataFrame,
    keys: list[str],
    measures: list[tuple[str, str]],
) -> DataFrame:
    """Incremental aggregate maintenance: fold a new batch's partial
    state (:func:`agg_state` of the batch) into the running state
    WITHOUT re-scanning history.

    This is the materialized-view maintenance contract every long-lived
    ingest needs at 100 TB: the history table is petabytes, but its agg
    state is one row per key — so each arriving batch costs one scan of
    the BATCH plus a key-wise merge of two small states (one shuffle on
    the keys, both sides already aggregated). Merge rules: sum/count
    re-sum, min/mins min, max/maxes max — by the monoid property the
    result is bit-identical to re-aggregating history ∪ batch from
    scratch (the oracle and tests assert exactly that). Keys present in
    only one side pass through via the full outer union.
    """
    merged = running.unionByName(delta, allowMissingColumns=False)
    aggs = [
        _MERGE_OP[op](f"{op}_{col}").alias(f"{op}_{col}") for col, op in measures
    ]
    return merged.groupBy(*keys).agg(*aggs)


def bloom_semi_prune(
    big: DataFrame,
    small: DataFrame,
    key: str,
    small_key: str | None = None,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Row-level bloom-filter pruning of ``big`` against ``small``'s
    key set — the explicit form of the runtime filter a selective join
    wants at 100 TB: probe rows that cannot match are dropped AT THE
    SCAN, before they pay the join shuffle. False positives only leak
    extra rows through to the real join (which re-checks exactly);
    false negatives are impossible, so downstream results are
    bit-identical with or without the prune — which is why the
    registered query's oracle is simply the plain join.

    Mechanics: ``num_hashes`` seeded xxhash64 positions per key over a
    ``num_bits`` bitmap packed 63 bits per bigint (bit 63 never set —
    no sign games). The bitmap is collected to the driver — O(num_bits)
    = kilobytes, independent of data size, same contract as a k-means
    centroid matrix — and rejoined as a broadcast one-row frame so the
    probe-side plan stays constant-shape. Probe cost is ``num_hashes``
    hash+mask ops per row, map-only.

    Spark's own AQE runtime bloom (``runtime.bloomFilter.enabled``)
    does this transparently when statistics cooperate; this operator is
    the deterministic, always-on version with a tunable bitmap.
    """
    from pyspark.sql import types as T  # noqa: PLC0415

    n_words = (num_bits + 62) // 63

    def positions(col: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]

    pos = small.select(
        F.explode(F.array(*positions(F.col(small_key or key)))).alias("pos")
    ).distinct()
    words = (
        pos.groupBy((F.col("pos") / F.lit(63)).cast("int").alias("w"))
        .agg(
            # SQL form: the PySpark shiftleft wrapper only takes a
            # literal shift distance
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    filled = dict((r["w"], r["bits"]) for r in words)
    bitmap = [filled.get(w, 0) for w in range(n_words)]
    bloom_df = big.sparkSession.createDataFrame(
        [(bitmap,)],
        T.StructType([T.StructField("_bloom", T.ArrayType(T.LongType()))]),
    )

    # variable-distance shiftright needs the SQL form (the PySpark
    # wrapper only takes a literal shift); position columns get names
    # so the expr can address them
    probe = big.crossJoin(F.broadcast(bloom_df))
    pcols = []
    for i, p in enumerate(positions(F.col(key))):
        pc = f"_bloom_p{i}"
        pcols.append(pc)
        probe = probe.withColumn(pc, p).filter(
            F.expr(
                f"(shiftright(_bloom[CAST({pc} / 63 AS INT)],"
                f" CAST({pc} % 63 AS INT)) & 1) = 1"
            )
        )
    return probe.drop("_bloom", *pcols)


import re as _re

#: a bare column reference, optionally sort-decorated — the only Column
#: shapes the cheap coincidence check recognizes (anything fancier falls
#: back to resolved-plan introspection, then to the safe checkpoint path)
_SIMPLE_ORDER_RE = _re.compile(
    r"Column<'([A-Za-z_][A-Za-z0-9_]*)"
    r"(?: (?:ASC|DESC) NULLS (?:FIRST|LAST))?'>"
)


def _coincident_consumers(
    ranged: DataFrame,
    df: DataFrame,
    order_cols: list,
    seg_cols: list[str],
    value_col: str,
) -> bool:
    """True iff ``df`` carries NO column beyond the range keys, the
    segments and the value — the shape where nothing is prunable below
    the range exchange, so the totals and window consumers' subtrees
    are canonically identical and ReuseExchange provably computes the
    boundary sampling once (the r14 invariant, pinned in tests). Any
    doubt returns False, routing to the checkpointed-RDD path that is
    safe for every shape. Tries a ~1 ms repr parse of simple
    (optionally sort-decorated) column references first; falls back to
    resolving the repartition node and reading its references
    (~10–50 ms) for expression order keys."""
    extra = set(df.columns) - set(seg_cols) - {value_col}
    try:
        names = set()
        simple = True
        for c in order_cols:
            if isinstance(c, str):
                names.add(c)
                continue
            m = _SIMPLE_ORDER_RE.fullmatch(str(c))
            if m:
                names.add(m.group(1))
            else:
                simple = False
                break
        if simple:
            return extra <= names
        jrefs = ranged._jdf.queryExecution().analyzed().references().iterator()
        refs = set()
        while jrefs.hasNext():
            refs.add(jrefs.next().name())
        return extra <= refs
    except Exception:  # noqa: BLE001 — introspection must never be load-bearing
        return False


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int = 32,
    segment_cols: list[str] | None = None,
) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-partition window.

    A bare ``Window.orderBy(...)`` (no partitionBy) funnels the whole
    table through ONE task — the classic scale-killer Spark even warns
    about ("Moving all data to a single partition"). This operator is
    the distributed formulation: range-repartition on the global order,
    per-partition window cumsum, then add each partition's starting
    offset (the exclusive prefix of per-partition totals). The only
    driver-side data is one row PER PARTITION (bounded by cluster
    size, never by data size), and the result is independent of where
    the sampled range boundaries land because within-partition order ∘
    cross-partition range = the same total order.

    ``order_cols`` must be a deterministic total order (include a
    tiebreak key) — pass Column objects (e.g. ``F.col("x").desc()``).

    ``segment_cols`` (r15): optional restart keys — the running sum
    resets per segment, ordered by the global order RESTRICTED to the
    segment (any total order works: a segment's rows keep their
    relative global order across and within partitions). One range
    exchange then serves every segment — n independent prefix sums
    collapse into one plan instead of n (doc_rrf_retrieval fuses its
    two rankings this way). The offsets frame grows to ≤
    num_partitions × |segments| rows — still cluster-bounded for the
    catalog-sized segment counts this is meant for (a handful of
    rankers/sources), not for data-sized segment keys (use
    :func:`grouped_exact_rank` for those).
    """
    seg_cols = list(segment_cols or [])
    # ONE plan, ONE action (r14 — guide §1.2/§2.4), ONE physical range
    # exchange shared by BOTH consumers (the totals aggregate and the
    # final window). The sharing must hold structurally:
    # repartitionByRange samples its boundaries with an RDD-id-derived
    # seed, so two independent materializations of the exchange sample
    # independently and the _pid labels silently mismatch the offsets.
    # r14 relied on ReuseExchange over two canonically-identical
    # subtrees, which holds ONLY while the two consumers' column-pruned
    # copies of the exchange coincide — true exactly when the input
    # carries NO column beyond the range keys, the segments and the
    # value (then nothing is prunable below the exchange and both
    # subtrees are the full width). For any caller with a passthrough
    # column, pruning inserts per-consumer Projects below the exchange,
    # forks the subtrees, and corrupts the offsets (ADVICE r14 —
    # reproduced as 84% wrong rows on a 3-column frame; the r14
    # registered callers only survived because their final projections
    # happened to coincide). r15 therefore splits by a STATIC column
    # check:
    #   - coincident shape → the r14 single-plan form (no
    #     materialization cost; the executed-plan reuse invariant is
    #     pinned in tests/test_round14_opt.py);
    #   - anything else → pin ONE lazy-checkpointed RDD below both
    #     consumers: pruning cannot descend into an RDD scan, so the
    #     boundaries are sampled once by construction, at the cost of
    #     one executor-local MEMORY_AND_DISK materialization (measured
    #     +10–20% on the toy bench — correctness, not a knob).
    # The check is resolution-based, not string parsing: the analyzed
    # RepartitionByExpression node's references are exactly the order
    # expressions' input columns. On any introspection failure the
    # SAFE checkpoint path runs. AQE cannot re-shape the exchange out
    # from under the _pid labels either way: an explicit numPartitions
    # makes it REPARTITION_BY_NUM, which AQE neither coalesces nor
    # skew-splits.
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    coincident = _coincident_consumers(ranged, df, order_cols, seg_cols, value_col)
    d = ranged.withColumn("_pid", F.spark_partition_id())
    if not coincident:
        d = d.localCheckpoint(eager=False)
    # Integral value columns keep bigint offsets end-to-end: shipping
    # them as double would silently lose exactness past 2^53, where the
    # windowed sum below stays exact. Fractional inputs widen to double.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType  # noqa: PLC0415

    integral = isinstance(
        df.schema[value_col].dataType if isinstance(value_col, str) else None,
        (ByteType, ShortType, IntegerType, LongType),
    )
    off_type = "bigint" if integral else "double"
    from pyspark.sql import Window  # noqa: PLC0415

    # per-partition totals: one row PER PARTITION (O(cluster), never
    # O(data)), so the exclusive-prefix window over them is a bounded
    # single-task window — the documented exception to the
    # no-single-partition-window rule. Sequential left-to-right
    # accumulation in _pid order matches the old driver-side loop
    # bit-for-bit (same association order for the double path).
    w_off = (
        Window.partitionBy(*seg_cols) if seg_cols else Window
    ).orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("_pid", *seg_cols)
        .agg(F.sum(value_col).cast(off_type).alias("_t"))
        # coalesce(1), placed AFTER the agg so it cannot propagate up
        # into the range exchange's parallelism: the ≤num_partitions-row
        # (× |segments|) totals frame already satisfies the offsets
        # window's all-tuples requirement at one partition, so the
        # planner skips the Exchange SinglePartition stage it would
        # otherwise insert
        .coalesce(1)
        .select(
            "_pid",
            *seg_cols,
            F.coalesce(
                F.sum("_t").over(w_off), F.lit(0).cast(off_type)
            ).alias("_off"),
        )
    )
    w = (
        Window.partitionBy("_pid", *seg_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(offsets), ["_pid", *seg_cols])
        .withColumn(out_col, F.sum(value_col).over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def _monotone_id_key(df: DataFrame, id_col: str):
    """A bigint expression MONOTONE in the natural order of ``id_col``
    (equal ids → equal key), or ``None`` for id types without one.
    Integral ids map to themselves; strings map to their first 7
    UTF-8 bytes zero-right-padded and read big-endian — monotone in
    Spark's binary string collation, with prefix collisions merely
    coarsening the sub-histogram (never reordering it). Used by the
    dominant-bin fallback, whose sub-bins must respect the (score, id)
    rank order — a HASH of the id would split ties but scramble their
    order and change every rank the oracle pins."""
    from pyspark.sql.types import (  # noqa: PLC0415
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    t = df.schema[id_col].dataType
    if isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        return F.col(id_col).cast("bigint")
    if isinstance(t, StringType):
        # the expression relies on Spark >= 3.3 BYTE-wise rpad over
        # BINARY; older versions coerce to string and pad by
        # CHARACTERS, so multi-byte UTF-8 ids would yield >14 hex
        # digits and conv would silently wrap — scrambling ranks with
        # no error (ADVICE r10). Unknown/old versions degrade to the
        # kexpr=None path (one fine partition per tie class) instead.
        try:
            major, minor = (
                int(x) for x in df.sparkSession.version.split(".")[:2]
            )
        except (ValueError, AttributeError):
            return None
        if (major, minor) < (3, 3):
            return None
        # backtick-quoted: a column name with spaces/dots must not
        # splice into the expression as raw SQL
        return F.expr(
            f"cast(conv(hex(rpad(cast(`{id_col}` as binary), 7, x'00')), "
            "16, 10) as bigint)"
        )
    return None


def grouped_exact_rank(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    nbins: int = 10_000,
    tiers_bp: tuple[int, int] | None = None,
    nsub: int = 256,
) -> DataFrame:
    """EXACT within-group rank by (score asc, id asc) WITHOUT a
    one-task-per-group window — the grouped sibling of
    :func:`distributed_prefix_sum`. ``Window.partitionBy(group)``
    funnels each group through a single task, which at a
    handful-of-sources corpus means a handful of tasks sorting 100 TB
    (the caveat ``exact_stratified_split`` documents). This is the
    distributed formulation, the token_budget_mix histogram trick
    generalized to ranking:

    1. per-group (min, max, count) + id-key range — one catalog-sized
       agg, broadcast;
    2. integer value-histogram bin ``(score − lo) // width`` with
       ``width = (hi − lo) // nbins + 1`` — overflow-free bigint
       arithmetic, monotone in score, ≤ nbins bins — PLUS a sub-bin of
       a MONOTONE id key (:func:`_monotone_id_key`, ≤ ``nsub`` values
       over the group's key range);
    3. ONE narrow class aggregation at (group, bin, exact score,
       sub-bin) granularity, rolled up to per-bin counts; two
       catalog-bounded cumulative windows restore global offsets
       (per-group over ≤ nbins bins; per-bin over that bin's classes —
       ≤ ~1/nbins of the group's distinct scores × nsub);
    4. fine ``row_number`` windows partitioned by (group, bin, score,
       sub-bin) — ordered by id alone (the score is constant inside a
       partition) — added to the two offsets.

    ``score_col`` must be INTEGRAL (the repo-wide micro-quantization
    convention): bin arithmetic and rank are then exact in any engine.
    Ranks are 1-based, dense in each group, deterministic via the id
    tiebreak.

    **Mass ties never funnel into one task** (VERDICT r9):
    micro-quantized quality scores invite ties — one score value
    holding a large share of a group collapses into one histogram bin,
    and a (group, bin) fine window would sort that whole share in a
    single task. The sub-bin key splits every tie class into ≤ nsub
    fine partitions UNCONDITIONALLY: the id key is monotone (never a
    hash — that would scramble the id tiebreak order and change ranks
    the oracle pins), so (score, sub-bin) lexicographic order refines
    (score, id) order exactly and the composed rank is bit-identical
    to the single-partition form. The split is free in the common
    case: the class agg collapses ties map-side, and the class table
    joins back broadcast-sized unless scores are near-distinct — in
    which case classes ≈ rows but every shuffle of them carries 4
    narrow integer columns, and the fine/join partitioning coincide
    (no extra full-row exchange either way). Ids of types with no
    monotone bigint key (non-integral, non-string) degrade to one
    fine partition per (group, bin, score) tie class — still never
    the whole bin. Adversarial id↔score correlation can concentrate a
    tie class's ids into few sub-bins (the key range is group-level);
    uncorrelated ids — the normal case for content ids — spread
    ≈ uniformly.

    ``tiers_bp = (head_bp, middle_bp)`` optionally adds the
    CCNet-style tier label (Wenzek et al. 2020 §4.3: per-language
    perplexity terciles → head/middle/tail): integer cuts
    ``rank·10000 ≤ n·head_bp`` → 'head', ``≤ n·(head+middle)`` →
    'middle', else 'tail' — rank ascending, so SMALLER scores tier
    better (CCNet's perplexity convention; pass a negated score for
    bigger-is-better).

    Rows with NULL group/score/id are EXCLUDED (contract, mirrored in
    oracles). Output: (id, group, score, rank, n[, tier])."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType  # noqa: PLC0415

    if not isinstance(
        df.schema[score_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        raise ValueError(
            f"score_col '{score_col}' must be integral (micro-quantize "
            "fractional scores first) — bin and rank arithmetic must be "
            "exact in every engine"
        )
    if nbins <= 0:
        raise ValueError(f"nbins must be positive, got {nbins}")
    if nsub < 3:
        # same divide-first overflow bound as the score bins: nsub <= 2
        # could overflow the sub-width on full-range keys
        raise ValueError(f"nsub must be >= 3, got {nsub}")
    if tiers_bp is not None:
        h, m = tiers_bp
        if h < 0 or m < 0 or h + m > 10_000:
            raise ValueError(
                f"tiers_bp must be non-negative with sum <= 10000: {tiers_bp}"
            )
    d = df.filter(
        F.col(group_col).isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col).cast("bigint").alias("_s"),
    )
    binned, classes = _grouped_rank_frames(d, group_col, id_col, nbins, nsub)
    # the join keys equal the fine-window partition keys, so whichever
    # physical join AQE picks, the window adds no extra full-row
    # exchange; ordering by id alone — _s is constant in a partition
    w_fine = Window.partitionBy(group_col, "_bin", "_s", "_sub").orderBy(
        id_col
    )
    out = (
        binned.join(classes, [group_col, "_bin", "_s", "_sub"])
        .withColumn(
            "rank",
            (
                F.col("_before")
                + F.col("_before2")
                + F.row_number().over(w_fine)
            ).cast("bigint"),
        )
        .select(
            id_col,
            group_col,
            F.col("_s").alias(score_col),
            "rank",
            "n",
        )
    )
    if tiers_bp is None:
        return out
    h, m = tiers_bp
    return out.withColumn(
        "tier",
        F.when(F.col("rank") * 10_000 <= F.col("n") * h, F.lit("head"))
        .when(F.col("rank") * 10_000 <= F.col("n") * (h + m), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def _grouped_rank_frames(
    d: DataFrame,
    group_col: str,
    id_col: str,
    nbins: int,
    nsub: int,
) -> tuple[DataFrame, DataFrame]:
    """The binning half of :func:`grouped_exact_rank`, exposed for the
    property tests that pin the tie-splitting partitioning:
    ``(binned, classes)`` where ``binned`` carries every input row with
    its (_bin, _s, _sub) fine-window partition key, and ``classes`` is
    the narrow per-class offset table (_before = rows in earlier bins
    of the group, _before2 = rows in earlier classes of the bin).

    ``d`` must be the pre-filtered (id, group, _s bigint) projection.
    The data is touched exactly TWICE (the class agg and the final
    join) — the same two passes the plain (group, bin) histogram form
    pays; everything between is arithmetic on narrow class rows."""
    from pyspark.sql import Window  # noqa: PLC0415

    kexpr = _monotone_id_key(d, id_col)
    dk = d.withColumn(
        "_k", kexpr if kexpr is not None else F.lit(None).cast("bigint")
    )
    # ONE catalog-sized agg: score range + count + id-key range
    gstat = dk.groupBy(group_col).agg(
        F.min("_s").alias("_lo"),
        F.max("_s").alias("_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("_k").alias("_gklo"),
        F.max("_k").alias("_gkhi"),
    )
    # Overflow-free monotone binning for ANY bigint range: the naive
    # `(_hi - _lo)` subtraction overflows when a group spans more than
    # 2^63 (legal LongType inputs), so divide FIRST:
    # _w = hi div nbins − lo div nbins + 1 (each operand ≤ 2^63/nbins,
    # difference safe for nbins ≥ 3 — at nbins = 2 a full-range group
    # gives 2^62−1 − (−2^62) + 1 = 2^63, one past bigint max, so
    # nbins ≤ 2 routes through the single-bin branch: ADVICE r9) and
    # _bin = s div _w − lo div _w (same trick; `div` truncates toward
    # zero, still monotone non-decreasing for _w > 0). The id sub-bin
    # repeats the construction over the group's key range with nsub
    # (≥ 3 enforced); ids without a monotone key keep _sub = 0.
    binned = dk.join(F.broadcast(gstat), group_col)
    if nbins <= 2:
        binned = binned.withColumn("_bin", F.lit(0).cast("bigint"))
    else:
        binned = binned.withColumn(
            "_w",
            F.expr(f"(_hi div {nbins}) - (_lo div {nbins}) + 1").cast(
                "bigint"
            ),
        ).withColumn(
            "_bin", F.expr("(_s div _w) - (_lo div _w)").cast("bigint")
        )
    if kexpr is None:
        binned = binned.withColumn("_sub", F.lit(0).cast("bigint"))
    else:
        binned = binned.withColumn(
            "_sw",
            F.expr(f"(_gkhi div {nsub}) - (_gklo div {nsub}) + 1").cast(
                "bigint"
            ),
        ).withColumn(
            "_sub", F.expr("(_k div _sw) - (_gklo div _sw)").cast("bigint")
        )
    # narrow class table: ties collapse map-side, so shuffle volume is
    # ≤ min(rows, distinct (bin, score, sub) classes) 4-int rows
    classes = binned.groupBy(group_col, "_bin", "_s", "_sub").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    # per-bin totals (≤ nbins rows/group) → per-group cumulative bin
    # offsets; then per-bin cumulative class offsets — each window
    # partition is catalog-bounded (≤ nbins bins; ≤ that bin's classes)
    hist = classes.groupBy(group_col, "_bin").agg(
        F.sum("_c").alias("_bc")
    )
    w_bins = (
        Window.partitionBy(group_col)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumbin = hist.withColumn(
        "_before", F.coalesce(F.sum("_bc").over(w_bins), F.lit(0))
    ).select(group_col, "_bin", "_before")
    w_classes = (
        Window.partitionBy(group_col, "_bin")
        .orderBy("_s", "_sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    classes = (
        classes.join(cumbin, [group_col, "_bin"])
        .withColumn(
            "_before2", F.coalesce(F.sum("_c").over(w_classes), F.lit(0))
        )
        .select(group_col, "_bin", "_s", "_sub", "_before", "_before2")
    )
    return binned, classes


def zorder_value(cols: list, bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of 2+ non-negative integer columns
    into one sortable bigint — the multi-dimensional clustering key
    behind data-skipping layouts (Delta OPTIMIZE ZORDER BY, Hudi
    clustering): sorting by the interleaved key keeps rows that are
    close in EVERY dimension close in file order, so per-file min/max
    stats prune scans on any of the dimensions, not just the first
    sort column.

    Pure JVM bit arithmetic (shiftleft/shiftright/bitwise or) — no UDF,
    whole-stage-codegen friendly. ``bits`` per dimension; values are
    masked into range, so pre-scale real columns to [0, 2^bits).
    """
    n = len(cols)
    if bits * n > 63:
        # bit 63 is the bigint sign bit: an interleaved bit landing there
        # makes keys negative, which range-partition/sorts BEFORE all
        # positive keys — silently wrong clustering. Fail loudly instead.
        raise ValueError(
            f"zorder_value: bits*len(cols) = {bits}*{n} = {bits * n} exceeds 63 "
            f"(bigint sign bit); lower bits to at most {63 // n} for {n} columns"
        )
    z = F.lit(0).cast("bigint")
    mask = (1 << bits) - 1
    for d, c in enumerate(cols):
        v = F.col(c).cast("bigint").bitwiseAND(F.lit(mask))
        for b in range(bits):
            bit = F.shiftright(v, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + d))
    return z


def zorder_repartition(
    df: DataFrame, cols: list[str], num_partitions: int = 32, bits: int = 16
) -> DataFrame:
    """Rewrite a frame in Z-order layout: range-partition + sort on the
    Morton key of ``cols``. Write the result partitioned/bucketed and
    every subsequent scan filtering on ANY of ``cols`` prunes files by
    min/max stats instead of reading everything."""
    return (
        df.withColumn("_z", zorder_value(cols, bits))
        .repartitionByRange(num_partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def key_skew_report(
    df: DataFrame, key_col: str, top_n: int = 5
) -> DataFrame:
    """Shuffle-planning diagnostic: per-key frequency profile of a
    prospective join/agg key, with a salting recommendation.

    The pre-flight check you run BEFORE keying a 100 TB shuffle:
    ``skew_factor`` = heaviest key's count ÷ mean count (1.0 = uniform)
    and ``rec_salt`` = ⌈max·n_keys/total⌉ — the salt fan-out that
    brings the heaviest key's per-task share down to roughly the mean
    (the factor :func:`salted_join`/:func:`salted_distribution_agg`
    take as input). Integer arithmetic end-to-end except the two
    ratio columns.

    One count-shuffle (map-side combined) + a 3-number global agg +
    a ``top_n``-row TakeOrdered: output is O(top_n), never O(keys).
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    glob = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col(key_col).asc()).limit(top_n)
    return top.crossJoin(F.broadcast(glob)).select(
        F.col(key_col).cast("string").alias("key"),
        F.col("cnt").cast("bigint").alias("cnt"),
        (F.col("cnt") / F.col("total")).alias("share"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        (
            F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("total")
        ).alias("skew_factor"),
        # double-domain ceil, NOT integer (max_cnt*n_keys + total - 1):
        # the integer product overflows bigint exactly at the table
        # sizes this diagnostic targets (1e10-count hot key × 1e9 keys
        # > 2^63) — ANSI Spark would abort, non-ANSI would recommend a
        # negative fan-out. skew_factor already lives in double; its
        # ceil is exact for every realistic salt magnitude.
        F.ceil(
            F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("total")
        )
        .cast("bigint")
        .alias("rec_salt"),
        # explicit final order: row order after limit+crossJoin is an
        # implementation detail (AQE may re-plan); make the descending
        # frequency ordering part of the operator contract instead
    ).orderBy(F.col("cnt").desc(), F.col("key").asc())


def compaction_plan(
    stats: DataFrame,
    target_bytes: int,
    key_col: str = "file_key",
    size_col: str = "bytes",
) -> DataFrame:
    """Small-files compaction planner: assign each input file to an
    output file of ~``target_bytes`` by contiguous bin-packing in
    ``key_col`` order.

    Input is FILE METADATA (one row per file — what a listing or
    transaction log provides), never data: at 100 TB with 128 MB
    files that is ~800k rows, trivially shuffled. Key-order
    contiguity is deliberate — compaction must not destroy the sort/
    partition locality the layout already paid for, so files merge
    only with their key-range neighbors (the same policy as
    bin-packing OPTIMIZE in table formats). The running sum reuses
    :func:`distributed_prefix_sum` — no single-partition window even
    on metadata. Concat-and-split semantics: a file larger than
    ``target_bytes`` starts in its bin and overflows into the next
    (``out_offset`` = its start position within the bin stream).

    Returns ``(key, bytes, out_file, out_offset)``.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    # (key, size) order — distributed_prefix_sum requires a total order
    # with a tiebreak; bare key order would make cum (and therefore the
    # whole plan) run-dependent whenever two files share a key
    cum = distributed_prefix_sum(
        stats.select(F.col(key_col), F.col(size_col)),
        [F.col(key_col).asc(), F.col(size_col).asc()],
        size_col,
    )
    start = (F.col("cum") - F.col(size_col)).cast("bigint")
    return cum.select(
        F.col(key_col),
        F.col(size_col),
        F.expr(f"cast(cum - {size_col} as bigint) div {int(target_bytes)}").alias(
            "out_file"
        ),
        (start % target_bytes).alias("out_offset"),
    )


def winsorize_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization (clip to exact interpolated percentiles)
    reported as a summary — outlier repair for metric columns before
    they feed aggregates a heavy tail would dominate.

    Two passes sharing one group key: a grouped percentile aggregate
    (tiny result — one row per group, broadcast back) and a map-only
    clip + re-aggregate. At 100 TB the join side is |groups| rows; the
    clip never shuffles the data a second time because the summary
    agg reuses the same group key as the percentile agg. Clip sums are
    micro-quantized per element (order-free exact bigint). Returns
    ``(group, lo_micro, hi_micro, n, n_clipped_low, n_clipped_high,
    sum_clipped_micro)``.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1: {lower}, {upper}")
    # backtick-quote the identifier everywhere it meets a parser: the
    # F.expr interpolation AND F.col itself (a dotted name like
    # `unit-price.usd` otherwise parses as struct access)
    qcol = "`" + value_col.replace("`", "``") + "`"
    v = F.col(qcol).cast("double")
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({qcol}, {lower})").alias("_lo"),
        F.expr(f"percentile({qcol}, {upper})").alias("_hi"),
    )
    clipped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    micro = F.round(clipped * F.lit(1_000_000.0)).cast("bigint")
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.round(F.min("_lo") * F.lit(1_000_000.0)).cast("bigint").alias("lo_micro"),
            F.round(F.min("_hi") * F.lit(1_000_000.0)).cast("bigint").alias("hi_micro"),
            F.count(F.lit(1)).alias("n"),
            F.sum((v < F.col("_lo")).cast("bigint")).alias("n_clipped_low"),
            F.sum((v > F.col("_hi")).cast("bigint")).alias("n_clipped_high"),
            F.sum(micro).alias("sum_clipped_micro"),
        )
    )


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental view maintenance for an INNER JOIN: the rows a
    materialized join gains when each side appends a delta batch.

    Classic delta algebra: J(A∪dA, B∪dB) = J(A,B) ∪ J(A,dB) ∪
    J(dA,B) ∪ J(dA,dB) — so maintaining the view costs three joins
    that each have a DELTA on at least one side, never a rescan-join
    of history×history. At 100 TB this is the difference between
    petabyte×petabyte and petabyte×batch: with AQE the delta sides
    broadcast, and a bucketed history table makes even the big-side
    probes shuffle-free. Complements :func:`merge_agg_state` (the
    aggregate half of view maintenance); equivalence to the
    from-scratch join is exactly what the oracle asserts.

    Returns ONLY the increment — union it with the existing view.
    """
    return (
        a_old.join(b_delta, on)
        .unionByName(a_delta.join(b_old, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def bitmap_distinct(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """EXACT distinct ``key_col`` per group via Spark's bitmap
    aggregates (3.5+): keys fold into fixed-width bitmap buckets
    (bitmap_bucket_number/bit_position), buckets OR-merge
    associatively (bitmap_construct_agg), counts sum. The partial
    states are lossless bitmaps — re-aggregatable like the KMV/HLL
    sketches but exact, and the shuffle carries bitmaps instead of raw
    key sets (the win over COUNT(DISTINCT)'s expand at 100 TB).
    Returns ``(*group_cols, n_distinct, n_buckets)`` with FULL
    COUNT(DISTINCT) NULL semantics: null keys never bucket, a group
    whose keys are all NULL still appears with (0, 0), and a NULL
    group-column VALUE is a real group (null-safe re-attach join) —
    exactly what ``GROUP BY g`` + ``COUNT(DISTINCT k)`` yields.
    """
    gkey = [F.col(c) for c in group_cols]
    qcol = "`" + key_col.replace("`", "``") + "`"
    buckets = (
        df.filter(F.col(qcol).isNotNull())
        .select(
            *gkey,
            F.expr(f"bitmap_bucket_number({qcol})").alias("_bn"),
            F.expr(f"bitmap_bit_position({qcol})").alias("_bp"),
        )
        .groupBy(*group_cols, "_bn")
        .agg(F.expr("bitmap_construct_agg(_bp)").alias("_bm"))
    )
    counted = buckets.groupBy(*group_cols).agg(
        F.sum(F.expr("bitmap_count(_bm)")).alias("n_distinct"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    # re-attach groups the null filter emptied (group-cardinality side,
    # cheap) so all-NULL groups report 0 instead of disappearing. The
    # join must be null-SAFE: GROUP BY treats a NULL group value as a
    # real group, and a plain equi-join would never match its counted
    # row (reporting 0 even when the group has non-null keys).
    groups = df.select(*gkey).distinct()
    cond = reduce(
        lambda a, b: a & b,
        [groups[c].eqNullSafe(counted[c]) for c in group_cols],
    )
    return groups.join(counted, cond, "left").select(
        *[groups[c].alias(c) for c in group_cols],
        F.coalesce(counted["n_distinct"], F.lit(0))
        .cast("bigint")
        .alias("n_distinct"),
        F.coalesce(counted["n_buckets"], F.lit(0))
        .cast("bigint")
        .alias("n_buckets"),
    )
