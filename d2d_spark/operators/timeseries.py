"""Time-series regularization — the hypertable-style bucket/gap-fill
pair (TimescaleDB's time_bucket_gapfill / locf): turn an irregular
event stream into a REGULAR per-key grid that window models and
dashboards can consume, with explicit gap semantics instead of
silently missing rows.

  resample     — bucket events to a fixed interval per key and
                 aggregate (one groupBy — the plain time_bucket).
  gap_fill     — expand each key's bucket range to the FULL regular
                 grid (per-key min..max by default, or an explicit
                 [start, end) range shared by all keys), then fill
                 value gaps: 'null' (explicit holes), 'locf' (last
                 observation carried forward), or 'zero'.

Spark shape: resample is one shuffle (groupBy key+bucket with
map-side combine). The grid is a per-key `sequence()` explode — rows
generated executor-side, sized by (range / interval) per key, no
driver loop; the fill join is an equi-join on (key, bucket); locf is
one carry-forward window per key (the asof_join machinery's core
move). State never exceeds the OUTPUT grid — which is the product
the caller asked for.

At 100 TB: the aggregate dominates and is the usual partial-agg
shuffle; grids are output-sized. The honest knob is the grid span —
a key with events 5 years apart at 1-second buckets EXPLODES by
construction, so `max_buckets_per_key` refuses silent grid bombs
(the quadratic-guard discipline)."""

from __future__ import annotations

import math as _math
from collections.abc import Sequence
from datetime import timedelta as _timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def resample(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    interval: str,
    aggs: dict[str, Column],
) -> DataFrame:
    """(keys..., bucket, <aggs...>) — fixed-interval tumbling buckets
    per key (bucket = window start, a timestamp). ``interval`` is any
    Spark window duration ('5 minutes', '1 hour', '1 day')."""
    if not aggs:
        raise ValueError("resample: need at least one aggregate")
    keys = list(key_cols)
    out = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(*keys, F.window(ts_col, interval).alias("__w"))
        .agg(*[e.alias(n) for n, e in aggs.items()])
    )
    return out.select(*keys, F.col("__w.start").alias("bucket"), *aggs.keys())


def gap_fill(
    buckets: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    interval: str,
    value_cols: Sequence[str],
    fill: str = "null",
    start=None,
    end=None,
    max_buckets_per_key: int = 1_000_000,
) -> DataFrame:
    """Expand a (keys, bucket, values...) frame to the full regular
    grid and fill the holes. Grid per key spans its own [min, max]
    bucket unless ``start``/``end`` (timestamp-coercible; end
    EXCLUSIVE) pin one shared range. ``fill``:

      'null' — grid rows exist, missing values stay NULL (the honest
               default: a gap is a fact, not a zero);
      'zero' — missing values become 0 (count semantics);
      'locf' — last observation carried forward per key (leading
               gaps before a key's first value stay NULL).

    A `gap` boolean marks generated rows. Keys must not repeat a
    bucket (resample output never does; raises otherwise — filling a
    duplicated grid silently would double-count). Every input bucket
    must land ON the regular grid — a bucket misaligned with the
    grid's origin/interval raises loudly (silently dropping it while
    emitting its slot as gap=true would claim a gap where data
    exists); re-bucket with ``resample`` first. With an explicit
    range, ``end`` must be > ``start`` and the grid covers every
    bucket start in [start, end) even when the span is not a whole
    multiple of the interval (the last partial bucket keeps its
    row)."""
    if fill not in ("null", "locf", "zero"):
        raise ValueError(f"fill must be 'null' | 'locf' | 'zero', got {fill!r}")
    if max_buckets_per_key < 1:
        raise ValueError("max_buckets_per_key must be >= 1")
    parts = interval.strip().split()
    unit = parts[-1].lower().rstrip("s")
    secs_per = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}
    if unit not in secs_per or len(parts) != 2:
        raise ValueError(
            f"gap_fill needs a DAY-TIME interval ('<n> seconds..weeks'), got "
            f"{interval!r} — calendar months/years have no fixed length, so "
            "a regular grid is ill-defined"
        )
    step_secs = float(parts[0]) * secs_per[unit]
    keys = list(key_cols)
    vals = list(value_cols)
    missing = [c for c in keys + [bucket_col] + vals if c not in buckets.columns]
    if missing:
        raise ValueError(f"gap_fill: input lacks columns {missing}")
    iv = F.expr(f"INTERVAL {interval}")
    if start is not None or end is not None:
        if start is None or end is None:
            raise ValueError("gap_fill: pass BOTH start and end (end exclusive)")
        rng = (
            buckets.sparkSession.range(1)
            .select(
                F.lit(start).try_cast("timestamp").alias("lo"),
                F.lit(end).try_cast("timestamp").alias("hi"),
            )
            .first()
        )
        if rng["lo"] is None or rng["hi"] is None:
            raise ValueError(
                f"gap_fill: start={start!r} / end={end!r} did not coerce to "
                "timestamps"
            )
        if rng["hi"] <= rng["lo"]:
            raise ValueError(
                f"gap_fill: end ({rng['hi']}) must be strictly after start "
                f"({rng['lo']}) — end is exclusive, an empty range is a bug "
                "upstream, not an empty grid"
            )
        # Last grid point strictly before end: covers the partial
        # final bucket when (end - start) is not a multiple of the
        # interval (span 10s at 3s steps -> starts 0,3,6,9 — not 0..6).
        span_secs = (rng["hi"] - rng["lo"]).total_seconds()
        k_last = _math.ceil(span_secs / step_secs) - 1
        hi_last = rng["lo"] + _timedelta(seconds=k_last * step_secs)
        while k_last > 0 and hi_last >= rng["hi"]:  # float-edge safety
            k_last -= 1
            hi_last = rng["lo"] + _timedelta(seconds=k_last * step_secs)
        span = buckets.select(*keys).distinct().select(
            *keys,
            F.lit(rng["lo"]).alias("__lo"),
            F.lit(hi_last).alias("__hi"),
        )
    else:
        span = buckets.groupBy(*keys).agg(
            F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
        )
    n_buckets = (
        F.col("__hi").cast("double") - F.col("__lo").cast("double")
    ) / F.lit(step_secs) + 1
    guard = span.filter(F.col("__hi") >= F.col("__lo")).withColumn(
        "__nb", n_buckets
    )
    # r12 (guide §1.2 — fewer eager jobs): the three validation probes
    # (duplicate (key, bucket) rows; whale keys whose grid would
    # explode; observed buckets off the regular grid) used to run as
    # THREE driver jobs back to back; on the model-sized resampled
    # inputs this operator takes, per-job latency was the whole cost.
    # All three now ride ONE action — a cross of two one-row
    # aggregates (dup over the grouped buckets, whale+stray over the
    # buckets⋈span join). Semantics unchanged, including the edge
    # where a key with only NULL buckets is still dup-checked (it has
    # no span row, so it never reaches the stray/whale branch — same
    # as before).
    step_micros = int(round(step_secs * 1_000_000))
    stray_cond = (
        (F.col("__b") < F.col("__lo"))
        | (F.col("__b") > F.col("__hi"))
        | (
            F.pmod(
                F.unix_micros(F.col("__b")) - F.unix_micros(F.col("__lo")),
                F.lit(step_micros),
            )
            != 0
        )
    )
    dup_agg = (
        buckets.groupBy(*keys, bucket_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("dup"))
    )
    # Both joins below are null-safe on the keys: a NULL key is a group
    # of its own (groupBy keeps it and the grid is built for it), and a
    # plain equi-join would drop it from the grid-bomb and stray checks
    # and report its observed buckets as gaps. The right side's keys
    # are renamed __g<i> so the output keeps one copy of each key.
    def on_keys(left: DataFrame, right: DataFrame) -> Column:
        cond = F.lit(True)
        for i, k in enumerate(keys):
            cond = cond & left[k].eqNullSafe(right[f"__g{i}"])
        return cond

    renamed = [F.col(k).alias(f"__g{i}") for i, k in enumerate(keys)]
    obs = buckets.select(*keys, F.col(bucket_col).alias("__b"))
    rng = guard.select(*renamed, "__lo", "__hi", "__nb")
    sw_agg = (
        obs.join(rng, on_keys(obs, rng))
        .agg(
            F.max("__nb").alias("max_nb"),
            F.max(stray_cond).alias("stray"),
            F.max_by(
                F.struct(*keys, F.col("__b")),
                F.coalesce(stray_cond.cast("int"), F.lit(0)),
            ).alias("stray_ex"),
        )
    )
    chk = dup_agg.crossJoin(sw_agg).first()
    if chk["dup"] is not None and chk["dup"] > 1:
        raise ValueError(
            "gap_fill: duplicate (key, bucket) rows — aggregate first "
            "(resample), a duplicated grid would double-count"
        )
    if chk["max_nb"] is not None and chk["max_nb"] > max_buckets_per_key:
        raise ValueError(
            f"gap_fill: a key would generate {int(chk['max_nb'])} grid rows "
            f"(> max_buckets_per_key={max_buckets_per_key}) — widen the "
            "interval, narrow the range, or raise the cap explicitly"
        )
    if chk["stray"]:
        raise ValueError(
            f"gap_fill: input bucket {tuple(chk['stray_ex'])} is not on the "
            f"regular grid (misaligned with the grid origin / {interval!r} "
            "interval, or outside the explicit [start, end) range) — "
            "re-bucket with resample() on the same interval, or widen the "
            "range"
        )
    grid = guard.select(
        *keys,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), iv)).alias(bucket_col),
    )
    present = buckets.select(
        *renamed, F.col(bucket_col).alias("__gb"), *vals, F.lit(True).alias("__present")
    )
    joined = grid.join(
        present, on_keys(grid, present) & (grid[bucket_col] == present["__gb"]), "left"
    )
    out_vals: list[Column] = []
    for c in vals:
        col = F.col(c)
        if fill == "zero":
            col = F.coalesce(col, F.lit(0).cast(dict(buckets.dtypes)[c]))
        elif fill == "locf":
            w = (
                Window.partitionBy(*keys)
                .orderBy(bucket_col)
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            col = F.last(col, ignorenulls=True).over(w)
        out_vals.append(col.alias(c))
    return joined.select(
        *keys,
        bucket_col,
        *out_vals,
        F.coalesce(~F.col("__present"), F.lit(True)).alias("gap"),
    )


def _probe_series(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    what: str,
    max_rows_per_key: int,
    allow_dups: bool = False,
    tiebreak_cols: Sequence[str] = (),
) -> None:
    """ONE validation pass for the series operators below (the
    single-aggregate discipline): refuses NULL order values, duplicate
    (key, order) rows (ties make ROW frames / fold order
    partitioning-dependent — aggregate first; RANGE frames are
    value-bounded so duplicates are legal there, ``allow_dups``), and
    whale keys whose full series would exceed ``max_rows_per_key``
    (ewma's per-key state is the series itself)."""
    per_key = (
        df.groupBy(*keys, order_col, *tiebreak_cols)
        .agg(F.count(F.lit(1)).alias("__n"), F.max(F.col(order_col).isNull()).alias("__on"))
        .groupBy(*keys)
        .agg(
            F.sum("__n").alias("__rows"),
            F.max("__n").alias("__dup"),
            F.max("__on").alias("__null"),
        )
    )
    bad = per_key.agg(
        F.max("__rows").alias("rows"),
        F.max("__dup").alias("dup"),
        F.max("__null").alias("null_order"),
    ).first()
    if bad["rows"] is None:
        return  # empty input: every operator below returns empty
    if bad["null_order"]:
        raise ValueError(f"{what}: NULL {order_col!r} values — a series point "
                         "without a position is undefined; filter or impute first")
    if not allow_dups and bad["dup"] > 1:
        raise ValueError(f"{what}: duplicate (key, {order_col}) rows — order ties "
                         "make the result partitioning-dependent; aggregate "
                         "(resample) first")
    if bad["rows"] > max_rows_per_key:
        raise ValueError(
            f"{what}: a key holds {bad['rows']} rows (> max_rows_per_key="
            f"{max_rows_per_key}) — resample to a coarser grid, split the key, "
            "or raise the cap explicitly"
        )


def rolling_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    window: int | None = None,
    stats: Sequence[str] = ("avg", "sum", "min", "max", "stddev", "count"),
    min_periods: int = 1,
    out_prefix: str = "roll_",
    validate: bool = True,
    max_rows_per_key: int = 100_000_000,
    duration: str | None = None,
) -> DataFrame:
    """Trailing-window statistics per key: for each row, aggregate
    either the last ``window`` ROWS of the series (including the
    current one), or — with ``duration`` ('6 hours', '90 seconds') —
    every row whose timestamp falls in [t - duration, t] (a RANGE
    frame: value-bounded, so rows sharing a timestamp are legal and
    all land in each other's frame). Exactly one of window/duration.
    Appends one ``{out_prefix}{stat}`` column per requested stat; rows
    whose frame holds fewer than ``min_periods`` non-NULL values get
    NULL (count excepted — it IS the frame's non-NULL size). NULL
    values don't contribute (SQL aggregate semantics).

    Spark shape: ONE window shuffle on the keys; every stat shares the
    same frame so Catalyst collapses them into one Window node. At
    100 TB the cost is the key shuffle — same as any per-key window;
    no per-key state beyond the frame. ``validate`` (default on) runs
    one aggregate pass refusing NULL order values (and duplicates, in
    rows mode) — pass False for pre-validated pipelines (resample
    output qualifies)."""
    known = {"avg", "sum", "min", "max", "stddev", "count"}
    req = list(stats)
    bad = [s for s in req if s not in known]
    if bad:
        raise ValueError(f"rolling_stats: unknown stats {bad}; choose from {sorted(known)}")
    if (window is None) == (duration is None):
        raise ValueError("rolling_stats: pass exactly one of window / duration")
    if window is not None and window < 1:
        raise ValueError(f"rolling_stats: window must be >= 1, got {window}")
    if min_periods < 1 or (window is not None and min_periods > window):
        raise ValueError(
            f"rolling_stats: min_periods must be in [1, window], got {min_periods}"
        )
    keys = list(key_cols)
    if validate:
        _probe_series(
            df, keys, order_col, "rolling_stats", max_rows_per_key,
            allow_dups=duration is not None,
        )
    if duration is not None:
        if dict(df.dtypes).get(order_col) != "timestamp":
            raise ValueError(
                f"rolling_stats: duration mode needs a timestamp {order_col!r} "
                f"column, got {dict(df.dtypes).get(order_col)!r}"
            )
        parts = duration.strip().split()
        unit = parts[-1].lower().rstrip("s")
        secs_per = {
            "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
        }
        if unit not in secs_per or len(parts) != 2:
            raise ValueError(
                f"rolling_stats needs a DAY-TIME duration ('<n> seconds..weeks'), "
                f"got {duration!r} — calendar months/years have no fixed length"
            )
        micros = int(round(float(parts[0]) * secs_per[unit] * 1_000_000))
        if micros < 1:
            raise ValueError(f"rolling_stats: duration must be positive, got {duration!r}")
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.unix_micros(F.col(order_col)))
            .rangeBetween(-micros, 0)
        )
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(order_col)
            .rowsBetween(-(window - 1), 0)
        )
    v = F.col(value_col)
    n_obs = F.count(v).over(w)
    exprs = {
        "avg": F.avg(v).over(w),
        "sum": F.sum(v).over(w),
        "min": F.min(v).over(w),
        "max": F.max(v).over(w),
        "stddev": F.stddev_samp(v).over(w),
        "count": n_obs,
    }
    out = df
    for s in req:
        col = exprs[s]
        if s != "count":
            col = F.when(n_obs >= min_periods, col)
        out = out.withColumn(f"{out_prefix}{s}", col)
    return out


def ewma(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    validate: bool = True,
    max_rows_per_key: int | None = None,
    init: DataFrame | None = None,
    engine: str = "column",
) -> DataFrame:
    """Exponentially-weighted moving average per key — the EXACT
    sequential recurrence (pandas ``ewm(adjust=False)``):

        y_1 = x_1;   y_t = (1 - alpha) * y_{t-1} + alpha * x_t

    ``init`` warm-starts the fold: a (keys..., {out_col}) frame — one
    row per key, e.g. the last output of a previous run — seeds the
    running state, so run(batch1) ∘ run(batch2) ≡ run(batch1 ∪
    batch2) exactly (the streaming sink builds on this). Keys absent
    from ``init`` start cold (y_1 = x_1).

    Two physical engines, bit-identical outputs (both run literally
    ``(1-alpha)*prev + alpha*x`` on IEEE doubles in series order —
    test-pinned equal on shared fixtures):

    - ``engine='column'`` (default, the oracled path): a pure-Column
      fold — per key, one sorted collect_list + ONE F.aggregate pass,
      then explode back; all JVM-side, no Python. The fold APPENDS to
      an immutable array per element — O(n²) element copies per key —
      so its whale-key guard defaults to a deliberately tight 100k
      rows (~1e10 copies at the cap is already minutes): resample to
      a bounded grid first, which is also what makes an EWMA's time
      constant well-defined.
    - ``engine='arrow'`` (the long-series path): applyInPandas per
      key — Arrow batch transfer, an O(n) Python-float loop running
      the identical recurrence, nullable-Float64 output so NULL
      semantics survive the round-trip. Cap defaults to 100M. One
      caveat: Arrow conversion can't distinguish NaN from NULL in the
      value column, so a literal NaN VALUE is treated as missing here
      while the Column fold would propagate it — don't feed NaNs
      (validate refuses NULL order values either way).

    NULL values emit NULL for their row and leave the running state
    UNTOUCHED (a gap neither decays nor updates the average — resample
    + gap_fill first if decay-per-bucket is wanted).

    Spark shape: one groupBy shuffle either way; per-key state is the
    series itself (the recurrence is inherently sequential)."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    if out_col in df.columns:
        raise ValueError(
            f"ewma: input already has a column named {out_col!r} — the output "
            "would carry duplicate names; rename one side"
        )
    if engine not in ("column", "arrow"):
        raise ValueError(f"ewma: engine must be 'column' | 'arrow', got {engine!r}")
    if max_rows_per_key is None:
        max_rows_per_key = 100_000 if engine == "column" else 100_000_000
    keys = list(key_cols)
    if validate:
        _probe_series(df, keys, order_col, "ewma", max_rows_per_key)
    if engine == "arrow":
        return _ewma_arrow(
            df, keys, order_col, value_col, alpha, out_col, init, validate
        )
    rest = [c for c in df.columns if c not in keys]
    arr = F.sort_array(
        F.collect_list(F.struct(F.col(order_col).alias("__o"), F.struct(*rest).alias("__r")))
    )
    g = df.groupBy(*keys).agg(arr.alias("__s"))
    if init is not None:
        missing = [c for c in keys + [out_col] if c not in init.columns]
        if missing:
            raise ValueError(f"ewma: init frame lacks columns {missing}")
        if validate:
            dup = (
                init.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "ewma: init frame has duplicate keys — one seed per key"
                )
        g = g.join(
            init.select(*keys, F.col(out_col).cast("double").alias("__p0")),
            keys,
            "left",
        )
        prev0 = F.col("__p0")
    else:
        prev0 = F.lit(None).cast("double")
    one_m = float(1.0 - alpha)
    a = float(alpha)

    def step(acc, s):
        x = s["__r"][value_col].cast("double")
        new_prev = F.when(x.isNull(), acc["prev"]).otherwise(
            F.when(acc["prev"].isNull(), x).otherwise(
                F.lit(one_m) * acc["prev"] + F.lit(a) * x
            )
        )
        y = F.when(x.isNull(), F.lit(None).cast("double")).otherwise(new_prev)
        return F.struct(
            F.concat(acc["ys"], F.array(y)).alias("ys"), new_prev.alias("prev")
        )

    init_acc = F.struct(
        F.expr("CAST(array() AS array<double>)").alias("ys"),
        prev0.alias("prev"),
    )
    ys = F.aggregate(F.col("__s"), init_acc, step)["ys"]
    zipped = F.zip_with(
        F.col("__s"), ys, lambda s, y: F.struct(s["__r"].alias("r"), y.alias("y"))
    )
    ex = g.select(*keys, F.explode(zipped).alias("__z"))
    return ex.select(
        *keys,
        *[F.col(f"__z.r.{c}").alias(c) for c in rest],
        F.col("__z.y").alias(out_col),
    )


def _ewma_arrow(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str,
    init: DataFrame | None,
    validate: bool,
) -> DataFrame:
    """The linear-time EWMA engine: applyInPandas per key, an O(n)
    Python-float loop over the Arrow batch running the identical
    ``(1-alpha)*prev + alpha*x`` IEEE recurrence as the Column fold
    (Python floats ARE C doubles — same ops, same order, bit-equal;
    test-pinned). Output rides a nullable Float64 array so NULL rows
    survive the Arrow round-trip as real NULLs, not NaNs."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    if init is not None:
        missing = [c for c in keys + [out_col] if c not in init.columns]
        if missing:
            raise ValueError(f"ewma: init frame lacks columns {missing}")
        if validate:
            dup = (
                init.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError("ewma: init frame has duplicate keys — one seed per key")
        joined = df.join(
            init.select(*keys, F.col(out_col).cast("double").alias("__p0")),
            keys,
            "left",
        )
    else:
        joined = df.withColumn("__p0", F.lit(None).cast("double"))
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType(), True)]
    )
    out_cols = [f.name for f in out_schema.fields]
    one_m, a = float(1.0 - alpha), float(alpha)

    def kern(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col, kind="mergesort")
        xs = pdf[value_col]
        na = xs.isna().tolist()
        p0 = pdf["__p0"].iloc[0]
        prev = None if pd.isna(p0) else float(p0)
        ys: list[float | None] = []
        for m, x in zip(na, xs.tolist()):
            if m:
                ys.append(None)
                continue
            x = float(x)
            prev = x if prev is None else one_m * prev + a * x
            ys.append(prev)
        pdf = pdf.drop(columns=["__p0"])
        pdf[out_col] = pd.array(ys, dtype="Float64")
        return pdf[out_cols]

    return joined.groupBy(*keys).applyInPandas(kern, out_schema)


def rolling_zscore_outliers(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    window: int,
    threshold: float = 3.0,
    min_periods: int = 3,
    out_col: str = "is_outlier",
    z_col: str = "zscore",
    validate: bool = True,
) -> DataFrame:
    """Streaming-style anomaly flag: z-score of each point against its
    OWN trailing window (including itself — the self-dampened form; use
    mad_outliers for the robust global variant). Rows whose frame has
    fewer than ``min_periods`` points, or zero variance, get NULL
    z/flag — honest "can't say" instead of false negatives. Composes
    rolling_stats, so the cost is the same single window shuffle."""
    if threshold <= 0.0:
        raise ValueError(f"rolling_zscore_outliers: threshold must be > 0, got {threshold}")
    rolled = rolling_stats(
        df,
        key_cols,
        order_col,
        value_col,
        window,
        stats=("avg", "stddev"),
        min_periods=min_periods,
        out_prefix="__rz_",
        validate=validate,
    )
    sd = F.nullif(F.col("__rz_stddev"), F.lit(0.0))
    z = (F.col(value_col).cast("double") - F.col("__rz_avg")) / sd
    return (
        rolled.withColumn(z_col, z)
        .withColumn(out_col, F.abs(F.col(z_col)) > F.lit(float(threshold)))
        .drop("__rz_avg", "__rz_stddev")
    )


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap,
    out_col: str = "session_seq",
    start_col: str = "session_start",
    tiebreak_cols: Sequence[str] = (),
    validate: bool = True,
    max_rows_per_key: int = 100_000_000,
) -> DataFrame:
    """Assign gap-based session ids to EVENTS (the batch companion of
    streaming/windows.session_agg, which emits per-SESSION aggregates
    — funnels, paths and per-event enrichment want the id on every
    row): per key, a new session starts when an event arrives MORE
    than ``gap`` after the previous one (delta == gap continues the
    session — the session_window/lag-oracle convention). Appends
    ``out_col`` (per-key ordinal, 1-based) and ``start_col`` (the
    session's first timestamp — (keys, session_start) is a globally
    unique session key).

    ``gap``: an interval string ('30 minutes') for timestamp columns,
    or a number for numeric order columns. Shape: one key shuffle —
    lag + running-sum + per-session min all share the partitioning.
    Ordering ties are refused (one aggregate probe; pass
    ``tiebreak_cols`` or ``validate=False``)."""
    keys = list(key_cols)
    ties = list(tiebreak_cols)
    if validate:
        _probe_series(
            df, keys, ts_col, "sessionize", max_rows_per_key, tiebreak_cols=ties
        )
    w = Window.partitionBy(*keys).orderBy(ts_col, *ties)
    prev = F.lag(F.col(ts_col)).over(w)
    if isinstance(gap, str):
        boundary = F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}")
    else:
        g = float(gap)
        if g < 0:
            raise ValueError(f"sessionize: gap must be >= 0, got {gap}")
        boundary = (F.col(ts_col) - prev) > F.lit(g)
    run = (
        Window.partitionBy(*keys)
        .orderBy(ts_col, *ties)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.withColumn(
        out_col,
        (F.sum(F.coalesce(boundary.cast("int"), F.lit(0))).over(run) + 1).cast("int"),
    )
    ws = Window.partitionBy(*keys, out_col)
    return out.withColumn(start_col, F.min(ts_col).over(ws))


def debounce_events(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    quiet,
    tiebreak_cols: Sequence[str] = (),
    validate: bool = True,
    max_rows_per_key: int = 100_000_000,
) -> DataFrame:
    """Keep only each burst's FIRST event per key — the debounce
    filter (button-press / retry-storm / duplicate-webhook
    suppression): an event survives iff MORE than ``quiet`` elapsed
    since the key's previous event (the sessionize boundary rule, so
    debounce(df) IS "rows where session_start == ts"). ``quiet``: an
    interval string for timestamps, a number for numeric order
    columns. Shape: one lag window on the key — strictly cheaper than
    sessionize (no running sum, no per-session min)."""
    keys = list(key_cols)
    ties = list(tiebreak_cols)
    if validate:
        _probe_series(
            df, keys, ts_col, "debounce_events", max_rows_per_key, tiebreak_cols=ties
        )
    w = Window.partitionBy(*keys).orderBy(ts_col, *ties)
    prev = F.lag(F.col(ts_col)).over(w)
    if isinstance(quiet, str):
        boundary = prev.isNull() | (F.col(ts_col) > prev + F.expr(f"INTERVAL {quiet}"))
    else:
        q = float(quiet)
        if q < 0:
            raise ValueError(f"debounce_events: quiet must be >= 0, got {quiet}")
        boundary = prev.isNull() | ((F.col(ts_col) - prev) > F.lit(q))
    return df.withColumn("__keep", boundary).filter("__keep").drop("__keep")


def throttle_events(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    interval: str | float,
    mode: str = "bucket",
    tiebreak_cols: Sequence[str] = (),
    validate: bool = True,
    max_rows_per_key: int = 100_000,
) -> DataFrame:
    """Rate-limit a stream to at most one event per key per
    ``interval`` — two semantics, chosen by ``mode``:

      'bucket' (default, the SCALE path) — keep the earliest event in
          each fixed grid bucket (resample's window alignment): one
          groupBy/window shuffle, embarrassingly parallel, at most
          ceil(span/interval) survivors per key. Survivor SPACING can
          dip below ``interval`` across a bucket edge (a 09:59 event
          and a 10:00 event both survive) — the standard trade.
      'exact' — the true token-bucket rule: an event survives iff
          ts >= last SURVIVOR's ts + interval, walking each key's
          series in order. Inherently sequential, computed as the
          ewma-style sorted JVM fold — per-key state is the series,
          guarded by the same deliberately tight ``max_rows_per_key``
          (100k default; the fold appends to an immutable array,
          quadratic element copies). Survivors are identical on any
          partitioning.

    Timestamp columns take an interval string ('5 minutes'); numeric
    order columns a number. Ordering ties are refused by the probe
    (pass tiebreak_cols or validate=False)."""
    keys = list(key_cols)
    ties = list(tiebreak_cols)
    if mode not in ("bucket", "exact"):
        raise ValueError(f"throttle_events: mode must be 'bucket' | 'exact', got {mode!r}")
    if validate:
        _probe_series(
            df,
            keys,
            ts_col,
            "throttle_events",
            max_rows_per_key if mode == "exact" else 100_000_000,
            tiebreak_cols=ties,
        )
    ts_is_time = dict(df.dtypes).get(ts_col) in ("timestamp", "timestamp_ntz")
    if ts_is_time != isinstance(interval, str):
        raise ValueError(
            "throttle_events: interval strings go with timestamp columns, "
            "numbers with numeric order columns"
        )
    if mode == "bucket":
        if ts_is_time:
            bucket = F.window(F.col(ts_col), interval)["start"]
        else:
            iv = float(interval)
            if iv <= 0:
                raise ValueError(f"throttle_events: interval must be > 0, got {interval}")
            bucket = F.floor(F.col(ts_col) / F.lit(iv))
        w = Window.partitionBy(*keys, bucket).orderBy(ts_col, *ties)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    # exact token-bucket: sorted fold carrying the last survivor's ts
    if ts_is_time:
        gap = F.expr(f"INTERVAL {interval}")
    else:
        gap = F.lit(float(interval))
        if float(interval) <= 0:
            raise ValueError(f"throttle_events: interval must be > 0, got {interval}")
    rest = [c for c in df.columns if c not in keys]
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("__o"),
                F.struct(*[F.col(c) for c in ties]).alias("__tb"),
                F.struct(*rest).alias("__r"),
            )
        )
    )
    g = df.groupBy(*keys).agg(arr.alias("__s"))

    def step(acc, s):
        t = s["__o"]
        keep = acc["last"].isNull() | (t >= acc["last"] + gap)
        new_last = F.when(keep, t).otherwise(acc["last"])
        return F.struct(
            F.concat(acc["ks"], F.array(keep)).alias("ks"), new_last.alias("last")
        )

    ts_type = df.schema[ts_col].dataType
    init_acc = F.struct(
        F.expr("CAST(array() AS array<boolean>)").alias("ks"),
        F.lit(None).cast(ts_type).alias("last"),
    )
    ks = F.aggregate(F.col("__s"), init_acc, step)["ks"]
    zipped = F.zip_with(
        F.col("__s"), ks, lambda s, k: F.struct(s["__r"].alias("r"), k.alias("k"))
    )
    ex = g.select(*keys, F.explode(zipped).alias("__z")).filter(F.col("__z.k"))
    return ex.select(
        *keys, *[F.col(f"__z.r.{c}").alias(c) for c in rest]
    )


def _seed_join(
    g: DataFrame,
    init: DataFrame,
    keys: list[str],
    cols: tuple[str, ...],
    what: str,
    validate: bool,
):
    """Shared warm-start plumbing for the sequential folds: left-join
    an (keys..., *cols) seed frame onto the grouped series frame,
    returning (frame, [seed Column per col]). Duplicate seed keys are
    refused (one tiny aggregate) — two seeds for one key make the
    fold ambiguous."""
    missing = [c for c in [*keys, *cols] if c not in init.columns]
    if missing:
        raise ValueError(f"{what}: init frame lacks columns {missing}")
    if validate:
        dup = (
            init.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(f"{what}: init frame has duplicate keys — one seed per key")
    sel = [
        F.col(c).cast("double").alias(f"__seed{i}") for i, c in enumerate(cols)
    ]
    joined = g.join(init.select(*keys, *sel), keys, "left")
    return joined, [F.col(f"__seed{i}") for i in range(len(cols))]


def holt_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    level_col: str = "level",
    trend_col: str = "trend",
    validate: bool = True,
    max_rows_per_key: int = 100_000,
    init: DataFrame | None = None,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key — the
    trend-aware sibling of `ewma` (Holt 1957):

        l_1 = x_1,  b_1 = 0
        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    Appends ``level_col``/``trend_col``; the one-step-ahead forecast
    is level + trend of the PREVIOUS row, a lag away. The float ops
    are pinned to exactly the expressions above, so any engine
    replaying the recurrence (a recursive CTE, a Python loop)
    reproduces every value bit-for-bit. NULL values emit NULL for
    their row and leave (level, trend) untouched — the ewma gap
    convention.

    ``init`` warm-starts the fold: a (keys..., {level_col},
    {trend_col}) frame — one row per key, e.g. the last output of a
    previous run — seeds (l, b), so run(b1) ∘ run(b2) ≡ run(b1 ∪ b2)
    exactly (the streaming sink builds on this). Keys absent from
    ``init`` start cold.

    Spark shape and caveat: the same sorted JVM fold as `ewma`
    (inherently sequential per key; the array-append fold is
    quadratic in element copies), guarded by the same deliberately
    tight 100k whale cap — resample to a bounded grid first."""
    for name, v in (("alpha", alpha), ("beta", beta)):
        if not (0.0 < v <= 1.0):
            raise ValueError(f"holt_linear: {name} must be in (0, 1], got {v}")
    for c in (level_col, trend_col):
        if c in df.columns:
            raise ValueError(
                f"holt_linear: input already has a column named {c!r}; rename one side"
            )
    keys = list(key_cols)
    if validate:
        _probe_series(df, keys, order_col, "holt_linear", max_rows_per_key)
    rest = [c for c in df.columns if c not in keys]
    arr = F.sort_array(
        F.collect_list(F.struct(F.col(order_col).alias("__o"), F.struct(*rest).alias("__r")))
    )
    g = df.groupBy(*keys).agg(arr.alias("__s"))
    if init is not None:
        g, seeds = _seed_join(g, init, keys, (level_col, trend_col), "holt_linear", validate)
        prev_l, prev_b = seeds
    else:
        prev_l = F.lit(None).cast("double")
        prev_b = F.lit(None).cast("double")
    a, one_a = float(alpha), float(1.0 - alpha)
    b, one_b = float(beta), float(1.0 - beta)

    def step(acc, s):
        x = s["__r"][value_col].cast("double")
        lvl, tr = acc["l"], acc["b"]
        started = lvl.isNotNull()
        new_l = F.when(x.isNull(), lvl).otherwise(
            F.when(
                started, F.lit(a) * x + F.lit(one_a) * (lvl + tr)
            ).otherwise(x)
        )
        new_b = F.when(x.isNull(), tr).otherwise(
            F.when(
                started, F.lit(b) * (new_l - lvl) + F.lit(one_b) * tr
            ).otherwise(F.lit(0.0))
        )
        y = F.when(
            x.isNull(),
            F.lit(None).cast("struct<l:double,b:double>"),
        ).otherwise(F.struct(new_l.alias("l"), new_b.alias("b")))
        return F.struct(
            F.concat(acc["ys"], F.array(y)).alias("ys"),
            new_l.alias("l"),
            new_b.alias("b"),
        )

    init_acc = F.struct(
        F.expr("CAST(array() AS array<struct<l:double,b:double>>)").alias("ys"),
        prev_l.alias("l"),
        prev_b.alias("b"),
    )
    ys = F.aggregate(F.col("__s"), init_acc, step)["ys"]
    zipped = F.zip_with(
        F.col("__s"), ys, lambda s, y: F.struct(s["__r"].alias("r"), y.alias("y"))
    )
    ex = g.select(*keys, F.explode(zipped).alias("__z"))
    return ex.select(
        *keys,
        *[F.col(f"__z.r.{c}").alias(c) for c in rest],
        F.col("__z.y.l").alias(level_col),
        F.col("__z.y.b").alias(trend_col),
    )


def cusum_changepoints(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target: float,
    slack: float = 0.5,
    threshold: float = 5.0,
    validate: bool = True,
    max_rows_per_key: int = 100_000,
    init: DataFrame | None = None,
) -> DataFrame:
    """Two-sided CUSUM change detection per key (Page 1954) — the
    sequential shift detector next to the rolling z-score's windowed
    one:

        sp_t = max(0, sp_{t-1} + ((x_t - target) - slack))
        sn_t = max(0, sn_{t-1} + ((target - x_t) - slack))

    flag = sp > threshold OR sn > threshold (an upward/downward mean
    shift has accumulated past the decision interval). Appends
    cusum_pos / cusum_neg / is_shift. ``target`` is the in-control
    reference mean (pass a constant from domain knowledge or a
    trailing baseline — a data-derived global mean would make the
    flags partitioning-sensitive through float reduction order, so
    the operator takes the NUMBER, not a column). NULL values emit
    NULL and leave both sums untouched. Float ops pinned to exactly
    the expressions above (recursive-CTE-replayable). Same sequential
    sorted-fold shape and 100k whale cap as ewma/holt. ``init``
    warm-starts (cusum_pos, cusum_neg) per key — a (keys...,
    cusum_pos, cusum_neg) frame, e.g. the last output of a previous
    run — so batch runs compose exactly (the streaming sink builds on
    this); absent keys start at (0, 0)."""
    if slack < 0.0:
        raise ValueError(f"cusum_changepoints: slack must be >= 0, got {slack}")
    if threshold <= 0.0:
        raise ValueError(f"cusum_changepoints: threshold must be > 0, got {threshold}")
    keys = list(key_cols)
    if validate:
        _probe_series(df, keys, order_col, "cusum_changepoints", max_rows_per_key)
    rest = [c for c in df.columns if c not in keys]
    arr = F.sort_array(
        F.collect_list(F.struct(F.col(order_col).alias("__o"), F.struct(*rest).alias("__r")))
    )
    g = df.groupBy(*keys).agg(arr.alias("__s"))
    if init is not None:
        g, seeds = _seed_join(
            g, init, keys, ("cusum_pos", "cusum_neg"), "cusum_changepoints", validate
        )
        sp0 = F.coalesce(seeds[0], F.lit(0.0))
        sn0 = F.coalesce(seeds[1], F.lit(0.0))
    else:
        sp0, sn0 = F.lit(0.0), F.lit(0.0)
    t, k = float(target), float(slack)

    def step(acc, s):
        x = s["__r"][value_col].cast("double")
        sp = F.when(x.isNull(), acc["sp"]).otherwise(
            F.greatest(F.lit(0.0), acc["sp"] + ((x - F.lit(t)) - F.lit(k)))
        )
        sn = F.when(x.isNull(), acc["sn"]).otherwise(
            F.greatest(F.lit(0.0), acc["sn"] + ((F.lit(t) - x) - F.lit(k)))
        )
        y = F.when(
            x.isNull(), F.lit(None).cast("struct<p:double,n:double>")
        ).otherwise(F.struct(sp.alias("p"), sn.alias("n")))
        return F.struct(
            F.concat(acc["ys"], F.array(y)).alias("ys"),
            sp.alias("sp"),
            sn.alias("sn"),
        )

    init_acc = F.struct(
        F.expr("CAST(array() AS array<struct<p:double,n:double>>)").alias("ys"),
        sp0.alias("sp"),
        sn0.alias("sn"),
    )
    ys = F.aggregate(F.col("__s"), init_acc, step)["ys"]
    zipped = F.zip_with(
        F.col("__s"), ys, lambda s, y: F.struct(s["__r"].alias("r"), y.alias("y"))
    )
    ex = g.select(*keys, F.explode(zipped).alias("__z"))
    th = float(threshold)
    return ex.select(
        *keys,
        *[F.col(f"__z.r.{c}").alias(c) for c in rest],
        F.col("__z.y.p").alias("cusum_pos"),
        F.col("__z.y.n").alias("cusum_neg"),
        (
            (F.col("__z.y.p") > F.lit(th)) | (F.col("__z.y.n") > F.lit(th))
        ).alias("is_shift"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    period: int,
    out_prefix: str = "sd_",
    validate: bool = True,
    max_rows_per_key: int = 100_000_000,
) -> DataFrame:
    """Classical additive seasonal decomposition per key (the
    statsmodels ``seasonal_decompose(model='additive')`` shape):

        value = trend + seasonal + resid

    trend    — centered moving average of one full period (the even
               case uses the classic 2xMA half-weighted endpoints);
               NULL at the edges where the window is incomplete and
               wherever the window contains a NULL value.
    seasonal — per-phase mean of the detrended series, re-centered so
               the seasonal component sums to ~0 over one period
               (phase = 0-based position in series order mod period).
    resid    — value - trend - seasonal (NULL where trend is).

    Multiplicative decomposition = log-transform the value upstream
    and exponentiate the components back — not a second code path.

    Determinism discipline: the trend numerator is an exact
    DECIMAL(18,6) window sum (2*S - ends for even periods — exact,
    no half weights until the single final double division), and both
    mean reductions (per-phase, per-key centering) run over 12-dp
    DECIMAL summands — partition-order-invariant, bit-reproducible
    cluster-to-laptop, replayable in plain SQL (the r10 rotation
    path).

    Spark shape: ONE window shuffle on the keys (row_number + the
    centered frame ride the same sort), one phase groupBy bounded by
    |keys| x period, one key groupBy for centering, and broadcast
    joins back. At 100 TB the key shuffle is the cost, same as any
    per-key window; series length per key is capped by the probe.
    Requires a regular, gap-free series per key (resample + gap_fill
    upstream) — classical decomposition is undefined on irregular
    spacing, and phases drift across gaps."""
    if period < 2:
        raise ValueError(f"seasonal_decompose: period must be >= 2, got {period}")
    keys = list(key_cols)
    if not keys:
        raise ValueError("seasonal_decompose: need at least one key column")
    clash = [c for c in df.columns if c.startswith(out_prefix)]
    if clash:
        raise ValueError(
            f"seasonal_decompose: columns {clash} already carry out_prefix="
            f"{out_prefix!r}; rename or pick another prefix"
        )
    if validate:
        _probe_series(df, keys, order_col, "seasonal_decompose", max_rows_per_key)
    dec = "decimal(18,6)"
    v = F.col(value_col).cast("double")
    q = F.col(value_col).cast(dec)
    w_ord = Window.partitionBy(*keys).orderBy(order_col)
    half = period // 2
    if period % 2 == 1:
        frame = w_ord.rowsBetween(-half, half)
        full_n = period
        num = F.sum(q).over(frame)  # exact decimal
        den = float(period)
    else:
        frame = w_ord.rowsBetween(-half, half)
        full_n = period + 1
        # 2*S - x[-half] - x[+half]: all-decimal exact numerator for
        # the half-weighted classical 2xMA; one double division by 2p
        num = (
            F.sum(q).over(frame) * 2
            - F.lag(q, half).over(w_ord)
            - F.lead(q, half).over(w_ord)
        )
        den = float(2 * period)
    n_in_frame = F.count(q).over(frame)
    trend = F.when(
        n_in_frame == F.lit(full_n), num.cast("double") / F.lit(den)
    )
    base = df.withColumn(
        "__phase", ((F.row_number().over(w_ord) - 1) % period).cast("int")
    ).withColumn("__trend", trend)
    detr = F.round(v - F.col("__trend"), 12).cast("decimal(28,12)")
    phase_means = (
        base.filter(F.col("__trend").isNotNull() & F.col(value_col).isNotNull())
        .groupBy(*keys, "__phase")
        .agg(
            (F.sum(detr).cast("double") / F.count(detr)).alias("__s_raw")
        )
    )
    centering = (
        phase_means.groupBy(*keys)
        .agg(
            (
                F.sum(F.round("__s_raw", 12).cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__s_mean")
        )
    )
    seasonal = phase_means.join(centering, keys).select(
        *keys,
        "__phase",
        (F.col("__s_raw") - F.col("__s_mean")).alias("__seasonal"),
    )
    # no broadcast hint: |keys| x period can be corpus-scale when keys
    # are high-cardinality — let AQE pick (it broadcasts when small)
    out = base.join(seasonal, [*keys, "__phase"], "left").select(
        *df.columns,
        F.col("__trend").alias(f"{out_prefix}trend"),
        F.col("__seasonal").alias(f"{out_prefix}seasonal"),
        (v - F.col("__trend") - F.col("__seasonal")).alias(f"{out_prefix}resid"),
    )
    return out
