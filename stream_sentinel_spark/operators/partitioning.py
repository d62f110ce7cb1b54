"""Partition-layout helpers shared by the per-row-heavy operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small(df: DataFrame) -> DataFrame:
    """At least one partition per core before per-row-heavy narrow work.

    A dimension-sized table (one parquet footer under
    `maxPartitionBytes`) scans as a SINGLE partition, which serializes
    every downstream per-row transform — shingling, minhash signatures,
    quadratic pair joins, Arrow UDF stages — onto one task no matter how
    many cores the cluster has. Measured on 32 local cores: the sf0.1 shingle
    pass 4.2 s → 0.2 s; the 2M-pair cosine stage ran one-core at ~10 s
    warm (50 s cold, absorbing JIT warm-up) before spreading.

    Inputs that already have ≥ one partition per core (any at-scale
    table) pass through untouched, so this never coalesces or reshuffles
    big data."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def spread_rows(df: DataFrame, n_rows: int, target_rows: int = 4_000) -> DataFrame:
    """Rows-derived parallelism for per-row-heavy narrow work — the
    batch analogue of the streaming `_stream_parts` sizing: expand to
    ``ceil(n_rows / target_rows)`` partitions, capped at the session's
    parallelism, and NEVER coalesce (an at-scale input keeps its
    natural partitioning). :func:`spread_small` expands a small input
    to one partition per core unconditionally, which is right for a
    single heavy pass but wrong for iterative Arrow-kernel stages over
    a dimension-sized frame: 32 near-empty partitions mean every
    iteration pays 32 python-worker/Arrow round-trips for microseconds
    of numpy (measured on the IVF Lloyd loop at sf0.1: 2 000 vectors ×
    3 iterations × 32 tasks — the training collects dominated the
    query's wall; rows-sized it is one task per stage)."""
    sc = df.sparkSession.sparkContext
    parts = max(1, min(sc.defaultParallelism, -(-int(n_rows) // target_rows)))
    if df.rdd.getNumPartitions() < parts:
        return df.repartition(parts)
    return df


def spread_pairs(cands: DataFrame) -> DataFrame:
    """Re-spread a candidate-pair frame before expensive verification.

    Candidate (a_id, b_id) frames typically arrive from a ``distinct``,
    and AQE coalesces the post-shuffle stage by BYTES — millions of
    16-byte id pairs collapse to one or two partitions, which would
    serialize whatever runs in that stage (the vector joins, popcount
    filters, or Arrow kernels that do the real verification work) onto
    a couple of cores. Measured on the MinHash verify stage at sf0.1:
    15.8 s → 3.1 s. The explicit exchange moves only the slim id pairs
    — noise next to the work it parallelizes."""
    par = cands.sparkSession.sparkContext.defaultParallelism * 2
    return cands.repartition(par)


def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two ``bits``-wide non-negative
    integer columns into one 2·bits-bit locality key — the multi-column
    clustering layout (Delta/Iceberg ``OPTIMIZE ZORDER BY``): sorting
    or range-partitioning by the Z value co-locates rows that are close
    in BOTH dimensions, so per-file min/max stats prune scans on either
    predicate column, not just the leading sort key.

    Inputs are masked to ``bits`` (callers mod/bucket real keys down
    first when unbounded). The interleave is a flat sum of shift/mask
    terms — pure codegen, map-only, and trivially mirrored in SQL for
    the oracle (:func:`zorder_sql_expr`).
    """
    from pyspark.sql import functions as F

    mask = (1 << bits) - 1
    # force 64-bit arithmetic: an IntegerType input would wrap at the
    # i=15 shiftleft (bit 31) and sign-extend into negative buckets
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_sql_expr(x_sql: str, y_sql: str, bits: int = 16) -> str:
    """DuckDB/ANSI mirror of :func:`zorder_value` (same shift/mask sum,
    integer-exact)."""
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((({x_sql}) & {mask}) // {1 << i}) % 2 * {1 << (2 * i)}")
        terms.append(f"((({y_sql}) & {mask}) // {1 << i}) % 2 * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_layout_stats(
    df, x, y, bits: int = 16, bucket_bits: int = 6
) -> "DataFrame":
    """Data-skipping effectiveness report for a Z-order layout: bucket
    rows by the top ``bucket_bits`` of the Z value (≡ the files an
    OPTIMIZE-ZORDER write would produce) and emit each bucket's row
    count and per-dimension min/max — the stats a reader's file-skipping
    index would hold. Z-bucketing bounds BOTH dimensions per bucket
    (each bucket is a quadtree cell), which is the whole point vs
    single-column sorting: predicates on either column prune.

    One map-only Z computation + one hash aggregation on the
    2^bucket_bits-value key.
    """
    from pyspark.sql import functions as F

    z = zorder_value(x, y, bits)
    bucket = F.shiftright(z, 2 * bits - bucket_bits)
    return (
        df.select(
            bucket.alias("zbucket"),
            x.cast("long").alias("_x"),
            y.cast("long").alias("_y"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_x").alias("x_min"),
            F.max("_x").alias("x_max"),
            F.min("_y").alias("y_min"),
            F.max("_y").alias("y_max"),
        )
    )
