"""Exact distributed quantiles without the value buffer.

Spark's exact `percentile` / DuckDB's `quantile_disc` materialize
every value of a group in one aggregation buffer — fine per small
group, impossible for a GLOBAL quantile over 100 TB (the buffer is
the dataset). `approx_percentile` is the sketch answer when error is
acceptable; this module is the exact answer with bounded memory:

  1. collapse to (value, count) — one groupBy with map-side combine;
     the working set is DISTINCT values, not rows;
  2. bucket the distinct values by EXPLICIT in-plan boundaries (a
     one-row percentile_approx over the distinct values, folded in
     by one-row broadcast crossJoin; bucket id = boundaries-below
     count). Deterministic by construction — unlike
     repartitionByRange + spark_partition_id, whose sampled
     boundaries are not guaranteed identical if the exchange is
     recomputed for the two consumers below;
  3. distributed prefix sum: per-bucket subtotals (one tiny agg,
     <= #buckets rows) cumsum on a single-partition window —
     legitimate, the frame is bucket-COUNT-sized — then a broadcast
     join hands each bucket its offset and a window partitioned BY
     BUCKET computes within-bucket running counts. No global-order
     single-partition window ever sees row- or value-scale data;
  4. the quantile targets fold in via a one-row crossJoin of the
     total count (the KMV/countmin one-row-broadcast discipline) and
     each (value) row keeps the targets its cumulative range covers.

Buckets split the DISTINCT-value mass evenly (the boundaries are
quantiles of the distinct values themselves), which is the right
balance target: every downstream width — window size, shuffle rows —
is measured in distinct values, not input rows.

Semantics are `percentile_disc`: the SMALLEST value whose cumulative
count reaches ceil(p * n), p = 0 mapping to the minimum. Values
return unchanged (no interpolation), so results are engine-exact —
no float drift to canonicalize.

`group_quantiles_exact` is the per-key variant: the cumsum window
partitions by key, so parallelism comes from key count and a single
mega-key degrades to the global case — which is exactly what
`quantiles_exact` handles; route true whale keys there.

Reference parity: the reference exposes only engine passthrough
percentiles (SURVEY §2.5); this extends the family the same way the
KLL/HLL sketches do, with an exact scale path instead of a buffer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _check_probs(probs: Sequence[float]) -> list[float]:
    ps = list(probs)
    if not ps:
        raise ValueError("probs must be non-empty")
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"every prob must be in [0, 1], got {p}")
    if len(set(ps)) != len(ps):
        raise ValueError(f"probs must be distinct, got {ps}")
    return ps


def _targets(n_col, probs: list[float]):
    """array<struct<p,double r>> of 1-based target ranks for a total
    count column: r = max(ceil(p*n), 1)."""
    return F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.greatest(F.ceil(F.lit(p) * n_col), F.lit(1)).alias("r"),
            )
            for p in probs
        ]
    )


def quantiles_exact(
    df: DataFrame, value_col: str, probs: Sequence[float], *, num_partitions: int | None = None
) -> DataFrame:
    """(p, value) — exact percentile_disc of ``value_col`` (NULLs
    excluded) for every p in ``probs``. Empty (or all-NULL) input
    returns zero rows. Memory is bounded by distinct-values-per-
    partition; no executor ever buffers the value multiset."""
    probs = _check_probs(probs)
    if num_partitions is not None and num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    v = F.col(value_col)
    from pyspark import StorageLevel

    from d2d_spark import cache as opcache

    # r11 (guide §2.4): the collapse frame feeds FOUR consumers
    # (boundary sketch, bucket offsets, total, the bucketed scan) and
    # without a persist the scan + value-collapse shuffle run 2-4x per
    # plan (measured: two separate collapse stages and 4 reads of the
    # exchange at sf0.1). Persist once per call under the opcache
    # discipline — the binary_auc pattern; distinct-value-sized, the
    # module's documented working set.
    counts = opcache.register(
        "quantiles",
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    # r12: eager fill — the final action builds THREE broadcast sides
    # (boundaries, offsets, total) whose jobs race on the cold cache
    # and each recompute the collapse (the standing cold-race lesson);
    # measured best-of-4 2.77 -> 2.53 s at sf0.1 with the fill.
    counts.count()
    nb = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # explicit deterministic bucket boundaries: equal DISTINCT-value
    # mass; one row, folded in by broadcast (empty input -> NULL
    # boundary array -> zero rows survive, handled by coalesce)
    bnds = counts.agg(
        F.percentile_approx(
            "__v", F.array(*[F.lit((i + 1) / nb) for i in range(max(nb - 1, 1))]), 10_000
        ).alias("__b")
    )
    bucketed = counts.crossJoin(F.broadcast(bnds)).select(
        "__v",
        "__c",
        F.coalesce(
            F.aggregate(
                "__b", F.lit(0), lambda acc, b: acc + (b < F.col("__v")).cast("int")
            ),
            F.lit(0),
        ).alias("__pid"),
    )
    # bucket offsets: <= #buckets rows, safe on one window
    offs = (
        bucketed.groupBy("__pid")
        .agg(F.sum("__c").alias("__pc"))
        .select(
            "__pid",
            (
                F.sum("__pc").over(
                    Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
                )
            ).alias("__off"),
        )
        .fillna({"__off": 0})
    )
    cum = (
        bucketed.join(F.broadcast(offs), "__pid")
        .withColumn(
            "__cum",
            F.col("__off")
            + F.sum("__c").over(
                Window.partitionBy("__pid")
                .orderBy("__v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("__start", F.col("__cum") - F.col("__c"))
    )
    total = counts.agg(F.sum("__c").alias("__n"))
    hit = (
        cum.crossJoin(F.broadcast(total))  # one-row fold-in
        .select(
            "__v",
            F.filter(
                _targets(F.col("__n"), probs),
                lambda t: (t["r"] > F.col("__start")) & (t["r"] <= F.col("__cum")),
            ).alias("__hits"),
        )
        .filter(F.size("__hits") > 0)
        .select(F.explode("__hits").alias("t"), F.col("__v"))
    )
    return hit.select(F.col("t.p").alias("p"), F.col("__v").alias("value")).orderBy("p")


def group_quantiles_exact(
    df: DataFrame, key_cols: Sequence[str] | str, value_col: str, probs: Sequence[float]
) -> DataFrame:
    """(keys..., p, value) — exact per-key percentile_disc. One
    groupBy to (key, value, count), one key-partitioned cumsum
    window, one key-level total joined back. Parallelism = key
    count; a single whale key serializes its own distinct values on
    one task — use `quantiles_exact` for global/whale cases."""
    probs = _check_probs(probs)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    v = F.col(value_col)
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*keys, v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(*keys).orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__start", F.col("__cum") - F.col("__c")
    )
    totals = counts.groupBy(*keys).agg(F.sum("__c").alias("__n"))
    hit = (
        cum.join(totals, keys)
        .select(
            *keys,
            "__v",
            F.filter(
                _targets(F.col("__n"), probs),
                lambda t: (t["r"] > F.col("__start")) & (t["r"] <= F.col("__cum")),
            ).alias("__hits"),
        )
        .filter(F.size("__hits") > 0)
        .select(*keys, F.explode("__hits").alias("t"), F.col("__v"))
    )
    return hit.select(*keys, F.col("t.p").alias("p"), F.col("__v").alias("value"))


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    key_cols: Sequence[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Clamp ``value_col`` to its exact [lower, upper] percentile_disc
    bounds — the standard outlier guard before training-signal
    aggregation (mean quality scores, reward stats) where a single
    corrupt value otherwise dominates. NULLs pass through unclamped.

    Global form uses `quantiles_exact` (bounds fold in by one-row
    broadcast crossJoin — no driver action); with ``key_cols`` the
    bounds come from `group_quantiles_exact` per key and join back on
    the keys. Either way the data column is scanned twice (bounds,
    clamp) and never buffered."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    v = F.col(value_col)
    if key_cols:
        keys = list(key_cols)
        b = group_quantiles_exact(df, keys, value_col, [lower, upper])
        wide = b.groupBy(*keys).agg(
            F.min(F.when(F.col("p") == lower, F.col("value"))).alias("__lo"),
            F.min(F.when(F.col("p") == upper, F.col("value"))).alias("__hi"),
        )
        joined = df.join(wide, keys, "left")
    else:
        q = quantiles_exact(df, value_col, [lower, upper], num_partitions=num_partitions)
        wide = q.agg(
            F.min(F.when(F.col("p") == lower, F.col("value"))).alias("__lo"),
            F.min(F.when(F.col("p") == upper, F.col("value"))).alias("__hi"),
        )
        joined = df.crossJoin(F.broadcast(wide))
    clamped = F.when(v.isNull(), v).otherwise(
        F.greatest(F.least(v, F.col("__hi")), F.col("__lo"))
    )
    return joined.withColumn(value_col, clamped).drop("__lo", "__hi")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str] | None = None,
    k: float = 3.0,
    out_col: str = "is_outlier",
) -> DataFrame:
    """Flag robust outliers by the median/MAD rule: a value is an
    outlier when |x - median| > k * MAD, MAD = median(|x - median|) —
    the standard-deviation rule's robust twin (one corrupt value
    shifts a mean/stddev arbitrarily; it cannot move either median).
    Exact medians via the bounded-memory quantile path, global or per
    key; NULL values flag NULL. A degenerate group (MAD = 0 — more
    than half the values identical) flags exactly the values that
    differ from the median, the conventional limit behavior.

    Two quantile passes (median, then median of deviations) + one
    flag projection; nothing buffers a value multiset anywhere."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    v = F.col(value_col)
    if key_cols:
        keys = list(key_cols)

        def med(frame: DataFrame, col: str, alias: str) -> DataFrame:
            q = group_quantiles_exact(frame, keys, col, [0.5])
            return q.select(*keys, F.col("value").alias(alias))

        m1 = med(df, value_col, "__med")
        dev = df.join(m1, keys).withColumn("__adev", F.abs(v - F.col("__med")))
        m2 = med(dev, "__adev", "__mad")
        out = df.join(m1, keys, "left").join(m2, keys, "left")
    else:
        def gmed(frame: DataFrame, col: str, alias: str) -> DataFrame:
            return quantiles_exact(frame, col, [0.5]).select(
                F.col("value").alias(alias)
            )

        m1 = gmed(df, value_col, "__med")
        dev = df.crossJoin(F.broadcast(m1)).withColumn(
            "__adev", F.abs(v - F.col("__med"))
        )
        m2 = gmed(dev, "__adev", "__mad")
        out = df.crossJoin(F.broadcast(m1)).crossJoin(F.broadcast(m2))
    flag = F.when(v.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.abs(v - F.col("__med")) > F.lit(float(k)) * F.col("__mad")
    )
    return out.withColumn(out_col, flag).drop("__med", "__mad")


def discretize(
    df: DataFrame,
    value_col: str,
    k: int,
    out_col: str = "bucket",
    bounds: "Sequence | None" = None,
) -> DataFrame:
    """Equal-frequency binning: append ``out_col`` = 1..k assigning
    each row to its global quantile bucket — the SCALABLE global
    ntile (ntile needs a single global sort; this needs one exact
    quantile pass plus a map). Bucket i = (b_{i-1}, b_i] with b_i the
    exact percentile_disc(i/k) bounds, so ties all land in ONE bucket
    deterministically (ntile splits them arbitrarily); skewed data
    can therefore produce empty upper buckets — a fact about the
    data, not a bug. NULL values get a NULL bucket. Pass ``bounds``
    (k-1 ascending values) to reuse a previous fit (train once, apply
    to a stream).

    Shape: the bounded-memory exact-quantile pass (quantiles_exact),
    one k-sized driver collect, then a pure-Column bounds fold —
    map-only on the data path."""
    if k < 2:
        raise ValueError(f"discretize: k must be >= 2, got {k}")
    if bounds is None:
        probs = [i / k for i in range(1, k)]
        got = {r["p"]: r["value"] for r in quantiles_exact(df, value_col, probs).collect()}
        bounds = [got[p] for p in probs] if got else None
    else:
        bounds = list(bounds)
        if len(bounds) != k - 1:
            raise ValueError(
                f"discretize: need k-1={k - 1} bounds, got {len(bounds)}"
            )
        if any(b is None for b in bounds) or sorted(bounds) != bounds:
            raise ValueError("discretize: bounds must be non-NULL and ascending")
    if not bounds:
        # empty / all-NULL input: nothing to bin against
        return df.withColumn(out_col, F.lit(None).cast("int"))
    v = F.col(value_col)
    barr = F.array(*[F.lit(b) for b in bounds])
    bucket = F.lit(1) + F.aggregate(
        barr, F.lit(0), lambda acc, b: acc + (b < v).cast("int")
    )
    return df.withColumn(
        out_col, F.when(v.isNotNull(), bucket).cast("int")
    )


def mahalanobis_outliers(
    df: DataFrame,
    value_cols: list[str],
    threshold: float,
    out_col: str = "is_outlier",
    dist_col: str = "mahalanobis_sq",
    ridge: float = 1e-9,
) -> DataFrame:
    """Multivariate outlier flags by SQUARED Mahalanobis distance —
    the joint-distribution companion to the per-column MAD/z-score
    flags (a row can sit inside every marginal yet far off the joint
    correlation structure; this is the flag that catches it):

        d2(x) = (x - mu)^T  Sigma^-1  (x - mu)

    against the caller's ``threshold`` (for Gaussian-ish data the
    chi-square(d) critical value at the chosen tail; passing the
    NUMBER keeps the operator dependency-free and the decision
    explicit). Rows with any NULL among ``value_cols`` get NULL
    distance/flag.

    Shape: ONE moment aggregate (counts + d sums + d(d+1)/2 pairwise
    product sums, every sum an exact DECIMAL over (18,6)-quantized
    values — partition-order-invariant), a d x d covariance solve on
    the DRIVER (numpy, model-sized), then a map-only quadratic-form
    Column expression with the inverse baked in as literals — scoring
    touches no shuffle. Practical d is small (<= ~16: the expanded
    quadratic form is d^2 terms per row). A singular covariance gets
    a tiny ridge (``ridge`` * trace/d on the diagonal) — refusing
    outright would make an exactly-collinear pair of columns
    unfixable without dropping data."""
    import numpy as np

    d = len(value_cols)
    if d < 2:
        raise ValueError(
            f"mahalanobis_outliers: need >= 2 value columns (use z-score/MAD "
            f"for one), got {value_cols}"
        )
    if d > 16:
        raise ValueError(
            f"mahalanobis_outliers: {d} columns expand to {d * d} quadratic "
            "terms per row — reduce dimensions (PCA) first"
        )
    if threshold <= 0.0:
        raise ValueError(f"mahalanobis_outliers: threshold must be > 0, got {threshold}")
    dec = "decimal(18,6)"
    ok = F.lit(True)
    for c in value_cols:
        ok = ok & F.col(c).isNotNull()
    qs = [F.col(c).cast(dec).alias(f"__q{i}") for i, c in enumerate(value_cols)]
    base = df.filter(ok).select(*qs)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(d):
        aggs.append(F.sum(f"__q{i}").alias(f"s{i}"))
    for i in range(d):
        for j in range(i, d):
            aggs.append(
                F.sum(F.col(f"__q{i}") * F.col(f"__q{j}")).alias(f"p{i}_{j}")
            )
    row = base.agg(*aggs).first()
    n = int(row["n"] or 0)
    if n < d + 1:
        raise ValueError(
            f"mahalanobis_outliers: {n} complete rows can't estimate a "
            f"{d}x{d} covariance (need >= {d + 1})"
        )
    s = np.array([float(row[f"s{i}"]) for i in range(d)])
    mu = s / n
    cov = np.empty((d, d))
    for i in range(d):
        for j in range(i, d):
            pij = float(row[f"p{i}_{j}"])
            cov[i, j] = cov[j, i] = (pij - n * mu[i] * mu[j]) / (n - 1)
    tr = float(np.trace(cov))
    cov_r = cov + np.eye(d) * (ridge * (tr / d if tr > 0 else 1.0))
    try:
        inv = np.linalg.inv(cov_r)
    except np.linalg.LinAlgError:
        inv = np.linalg.pinv(cov_r)
    # map-only quadratic form with the inverse baked in as literals
    diffs = [F.col(c).cast("double") - F.lit(float(mu[i])) for i, c in enumerate(value_cols)]
    d2 = F.lit(0.0)
    for i in range(d):
        for j in range(d):
            d2 = d2 + F.lit(float(inv[i, j])) * diffs[i] * diffs[j]
    dist = F.when(ok, d2)
    return df.withColumn(dist_col, dist).withColumn(
        out_col, F.when(ok, d2 > F.lit(float(threshold)))
    )


def weighted_quantiles_exact(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    probs: Sequence[float],
    num_partitions: int | None = None,
) -> DataFrame:
    """(p, value) — exact WEIGHTED discrete quantiles: the smallest
    value whose cumulative weight reaches p * total_weight (the
    inverse weighted CDF; with unit weights this IS percentile_disc).
    The missing member of the quantile family for token-weighted /
    duration-weighted distributions ("the p95 document by TOKEN mass,
    not by document count").

    Weights must be positive: NULL or <= 0 weights are REFUSED (one
    aggregate probe) — a zero weight can never be selected and a
    negative one breaks CDF monotonicity, both upstream bugs worth
    hearing about. Weights quantize to DECIMAL(18,6) and every
    cumulative sum is exact decimal, so bucket assignment and
    selection are partition-order-invariant.

    Shape: identical to quantiles_exact (value-collapse groupBy,
    approx-quantile bucket boundaries over DISTINCT values, per-bucket
    offsets, within-bucket cumsum) — no global single-partition
    sort."""
    probs = _check_probs(probs)
    if num_partitions is not None and num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    dec = "decimal(18,6)"
    v, w = F.col(value_col), F.col(weight_col)
    from pyspark import StorageLevel

    from d2d_spark import cache as opcache

    # r11 (guide §2.3/§2.4): the weight-validity probe used to be its
    # own full scan BEFORE the collapse; folding the per-value bad
    # flag into the collapse aggregate and probing the PERSISTED
    # collapse does validation and cache-fill in one pass — one scan
    # per call instead of 4-5 (probe + the collapse recomputed per
    # consumer, measured at sf0.1).
    counts = opcache.register(
        "quantiles",
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(
            F.sum(w.cast(dec)).alias("__c"),
            F.max(w.isNull() | (w <= 0)).alias("__bad"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    bad = counts.agg(F.max("__bad").alias("bad")).first()
    if bad["bad"]:
        opcache.deregister("quantiles", [counts])
        raise ValueError(
            "weighted_quantiles_exact: NULL or non-positive weights — a zero "
            "weight is unselectable and a negative one breaks CDF "
            "monotonicity; repair upstream"
        )
    counts = counts.select("__v", "__c")
    spark = df.sparkSession
    nb = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    bnds = counts.agg(
        F.percentile_approx(
            "__v", F.array(*[F.lit((i + 1) / nb) for i in range(max(nb - 1, 1))]), 10_000
        ).alias("__b")
    )
    bucketed = counts.crossJoin(F.broadcast(bnds)).select(
        "__v",
        "__c",
        F.coalesce(
            F.aggregate(
                "__b", F.lit(0), lambda acc, b: acc + (b < F.col("__v")).cast("int")
            ),
            F.lit(0),
        ).alias("__pid"),
    )
    offs = (
        bucketed.groupBy("__pid")
        .agg(F.sum("__c").alias("__pc"))
        .select(
            "__pid",
            F.coalesce(
                F.sum("__pc").over(
                    Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast(dec),
            ).alias("__off"),
        )
    )
    cum = (
        bucketed.join(F.broadcast(offs), "__pid")
        .withColumn(
            "__cum",
            F.col("__off")
            + F.sum("__c").over(
                Window.partitionBy("__pid")
                .orderBy("__v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("__start", F.col("__cum") - F.col("__c"))
    )
    total = counts.agg(F.sum("__c").alias("__w"))
    # target mass r = max(p*W, tiny): any r in (0, first_weight]
    # selects the first value, which is the p=0 convention; weights
    # are >= the 1e-6 quantum so 1e-12 can never skip a real bucket
    targets = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.greatest(
                    F.lit(p) * F.col("__w").cast("double"), F.lit(1e-12)
                ).alias("r"),
            )
            for p in probs
        ]
    )
    hit = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "__v",
            F.filter(
                targets,
                lambda t: (t["r"] > F.col("__start").cast("double"))
                & (t["r"] <= F.col("__cum").cast("double")),
            ).alias("__hits"),
        )
        .filter(F.size("__hits") > 0)
        .select(F.explode("__hits").alias("t"), F.col("__v"))
    )
    return hit.select(F.col("t.p").alias("p"), F.col("__v").alias("value")).orderBy("p")


def group_weighted_quantiles_exact(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    value_col: str,
    weight_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """(keys..., p, value) — exact per-key WEIGHTED discrete quantiles
    (the per-key sibling of weighted_quantiles_exact, same inverse-CDF
    rule and DECIMAL(18,6) weight discipline). One groupBy to
    (key, value, weight-sum), one key-partitioned cumsum window, one
    key-level total joined back — the group_quantiles_exact shape;
    parallelism = key count, a whale key serializes its own distinct
    values on one task (use the global variant for whales)."""
    probs = _check_probs(probs)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    dec = "decimal(18,6)"
    v, w = F.col(value_col), F.col(weight_col)
    bad = (
        df.filter(v.isNotNull())
        .agg(F.max(w.isNull() | (w <= 0)).alias("bad"))
        .first()
    )
    if bad["bad"]:
        raise ValueError(
            "group_weighted_quantiles_exact: NULL or non-positive weights — "
            "repair upstream (see weighted_quantiles_exact)"
        )
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*keys, v.alias("__v"))
        .agg(F.sum(w.cast(dec)).alias("__c"))
    )
    win = Window.partitionBy(*keys).orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("__cum", F.sum("__c").over(win)).withColumn(
        "__start", F.col("__cum") - F.col("__c")
    )
    totals = counts.groupBy(*keys).agg(F.sum("__c").alias("__w"))
    targets = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.greatest(
                    F.lit(p) * F.col("__w").cast("double"), F.lit(1e-12)
                ).alias("r"),
            )
            for p in probs
        ]
    )
    hit = (
        cum.join(totals, keys)
        .select(
            *keys,
            "__v",
            F.filter(
                targets,
                lambda t: (t["r"] > F.col("__start").cast("double"))
                & (t["r"] <= F.col("__cum").cast("double")),
            ).alias("__hits"),
        )
        .filter(F.size("__hits") > 0)
        .select(*keys, F.explode("__hits").alias("t"), F.col("__v"))
    )
    return hit.select(*keys, F.col("t.p").alias("p"), F.col("__v").alias("value"))
