"""Time-series rollups over epoch-nano timestamp columns.

The reference models bars as pre-aggregated rows keyed by
(sec, interval, tm) — producing those bars from raw ticks is the natural
companion operator (and the shape of a hypertable rollup). Pure built-ins:
bucketing is integer arithmetic on the nano timestamp, OHLC uses
min_by/max_by (Spark >= 3.3), so the whole rollup is one partial+final
hash aggregation — no window, no shuffle beyond the groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NS = 1_000_000_000


def time_bucket(ts_nanos: Column, bucket_ns: int) -> Column:
    """Bucket start (epoch nanos) for a fixed-width tumbling window."""
    return (ts_nanos - F.pmod(ts_nanos, F.lit(bucket_ns))).cast("long")


def ohlcv_bars(
    ticks: DataFrame,
    key_cols: list[str],
    ts_col: str,
    price_col: str,
    size_col: str | None = None,
    bucket_seconds: int = 60,
    with_boundaries: bool = False,
) -> DataFrame:
    """Roll raw ticks into OHLCV bars per (key_cols..., bar_ts).

    open/close = price at min/max timestamp (min_by/max_by — ties resolve
    to the smallest/largest ts's row deterministically when ts is unique
    per key, which PK semantics guarantee).

    ``with_boundaries`` additionally emits ``open_ts``/``close_ts`` (the
    bar's first/last tick timestamps) — required for EXACT hierarchical
    re-aggregation via ``downsample_bars``.
    """
    bucket = time_bucket(F.col(ts_col), bucket_seconds * NS).alias("bar_ts")
    aggs = [
        F.min_by(price_col, ts_col).alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        F.max_by(price_col, ts_col).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]
    if with_boundaries:
        aggs = [
            F.min(ts_col).alias("open_ts"),
            F.max(ts_col).alias("close_ts"),
            *aggs,
        ]
    if size_col:
        aggs.append(F.sum(size_col).alias("volume"))
        # try_divide: zero-volume bars yield NULL vwap (ANSI-safe, and
        # matches SQL engines' x/0 → NULL convention)
        aggs.append(
            F.try_divide(
                F.sum(F.col(price_col) * F.col(size_col)), F.sum(size_col)
            ).alias("vwap")
        )
    return ticks.groupBy(*key_cols, bucket).agg(*aggs)


def downsample_bars(
    bars: DataFrame,
    key_cols: list[str],
    bar_ts_col: str = "bar_ts",
    from_bucket_seconds: int = 3600,
    to_bucket_seconds: int = 86400,
) -> DataFrame:
    """Re-aggregate fine OHLCV bars into coarser bars EXACTLY.

    The hierarchical-rollup pattern behind the reference's per-interval
    bar tables (sec, interval, tm): maintain only the FINEST interval from
    raw ticks (e.g. the continuous aggregate), then derive every coarser
    interval from the bar table — at 100 TB this reads bucket-ratio× less
    data than re-scanning ticks, and the result is bit-identical because
    open/close resolve through the carried boundary timestamps
    (``open_ts``/``close_ts`` from ``ohlcv_bars(with_boundaries=True)``),
    not through lossy bar-order heuristics. min/max/count/sum re-combine
    losslessly by algebra. One hash aggregation, shuffle keyed on
    (keys, coarse bucket).

    Input must carry open_ts/open/high/low/close_ts/close/n_ticks and
    optionally volume. vwap (if present) is dropped — recombine it from
    Σ(px·size) instead of averaging averages; with volume present it is
    re-derived exactly as sum(vwap·volume)/sum(volume) only when the fine
    bars were built with size_col=price-weighted semantics, so we leave
    that to the caller.
    """
    if to_bucket_seconds % from_bucket_seconds != 0:
        raise ValueError(
            f"coarse bucket ({to_bucket_seconds}s) must be a multiple of "
            f"the fine bucket ({from_bucket_seconds}s)"
        )
    bucket = time_bucket(F.col(bar_ts_col), to_bucket_seconds * NS).alias(
        bar_ts_col
    )
    aggs = [
        F.min("open_ts").alias("open_ts"),
        F.max("close_ts").alias("close_ts"),
        F.min_by("open", "open_ts").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "close_ts").alias("close"),
        F.sum("n_ticks").alias("n_ticks"),
    ]
    if "volume" in bars.columns:
        aggs.append(F.sum("volume").alias("volume"))
    return bars.groupBy(*key_cols, bucket).agg(*aggs)


def gap_fill(
    bars: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_cols: list[str],
    bucket_seconds: int,
    skew_buckets: int | None = None,
) -> DataFrame:
    """Fill missing buckets per key with the last observation carried
    forward (the tick-DB 'locf' resample).

    Plan shape: per-key min/max bucket → ``sequence`` + ``explode``
    generates the dense bucket spine (no driver loop, no cross join with
    a calendar table), left join observed bars, then ONE window pass of
    ``last(ignorenulls)`` per value column. Two shuffles total (spine
    join + window), both on the same key — co-partitioned under AQE.
    ``is_filled`` marks carried rows.

    ``skew_buckets=N``: LOCF is a carry-composable prefix op — the
    heavy window runs per (key, time-bucket); the carry-in per value
    column is the last non-null observation of any earlier bucket
    (per-(key, bucket) ``max_by`` → keys×N frame → one tiny
    ``last(ignorenulls)`` window), applied via ``coalesce``. Identical
    results (tests/test_skew.py)."""
    step = bucket_seconds * NS
    spine = (
        bars.groupBy(*key_cols)
        .agg(F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi"))
        .select(
            *key_cols,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))
            ).alias(bucket_col),
        )
    )
    joined = spine.join(bars, [*key_cols, bucket_col], "left")
    from pyspark.sql import Window

    if not skew_buckets or skew_buckets <= 1:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = joined.withColumn(
            "is_filled", F.col(value_cols[0]).isNull()
        )
        for c in value_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
        return out

    bounds = joined.agg(
        F.min(bucket_col).alias("lo"), F.max(bucket_col).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        lo, width = 0, 1
    else:
        width = max(1, (hi - lo) // skew_buckets + 1)
    with_b = joined.withColumn(
        "__b", F.expr(f"({bucket_col} - {lo}L) div {width}L")
    )
    w_in = (
        Window.partitionBy(*key_cols, "__b")
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wprev = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # last non-null per (key, bucket, col): max_by with a NULL ordering
    # key for NULL values — aggregates skip NULL keys, so an all-NULL
    # bucket carries NULL
    bl = with_b.groupBy(*key_cols, "__b").agg(
        *[
            F.max_by(
                c, F.when(F.col(c).isNotNull(), F.col(bucket_col))
            ).alias(f"__bl_{c}")
            for c in value_cols
        ]
    )
    for c in value_cols:
        bl = bl.withColumn(
            f"__carry_{c}", F.last(f"__bl_{c}", ignorenulls=True).over(wprev)
        )
    carry = bl.select(
        *key_cols, "__b", *[f"__carry_{c}" for c in value_cols]
    )
    out = with_b.join(F.broadcast(carry), [*key_cols, "__b"]).withColumn(
        "is_filled", F.col(value_cols[0]).isNull()
    )
    for c in value_cols:
        out = out.withColumn(
            c,
            F.coalesce(
                F.last(c, ignorenulls=True).over(w_in), F.col(f"__carry_{c}")
            ),
        )
    return out.select(*joined.columns, "is_filled")


def ewma(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    skew_buckets: int | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per key:
    ``y_0 = x_0;  y_t = (1-alpha) * y_{t-1} + alpha * x_t``.

    The recurrence has no bounded-window form (every output depends on
    the entire prefix) and the closed-form rewrite ``(1-alpha)^{-t}``
    overflows doubles after ~1k rows, so the default is the textbook
    ``applyInPandas``: one shuffle on the key, then each key's series is
    a single vectorized ``Series.ewm`` call in C — Arrow in, Arrow out,
    no per-row Python. Output: input columns + ``ewma``.

    ``skew_buckets=N`` parallelizes a hyper-hot key (the drill's finding
    4, PLANS.md): the recurrence is LINEAR, so a time-bucketed split
    composes exactly. Per (key, bucket) the Arrow kernel emits the
    zero-seeded partial ``p_i`` (EWMA of the bucket with carry-in 0) and
    the decay ``d_i = (1-alpha)^i``; the true value is
    ``y_i = p_i + d_i * c_b`` where the bucket's carry-in ``c_b`` rolls
    up through the per-bucket linear maps ``y -> P_b + D_b * y`` — a
    #keys × N frame folded with one ``aggregate`` HOF, then broadcast
    back. Seeding is uniform because pandas' first-row convention
    (``y_1 = x_1``) is the same map with ``c_1 = x_1``. Equivalent to
    the sequential path up to FP associativity (pinned ~1e-9 in
    tests/test_skew.py); NULL values are not supported in bucketed mode
    (the sequential path inherits pandas NaN skipping).
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ewma double"

    if not skew_buckets or skew_buckets <= 1:

        def per_key(pdf):
            pdf = pdf.sort_values(ts_col)
            pdf["ewma"] = (
                pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
            )
            return pdf

        return df.groupBy(*key_cols).applyInPandas(per_key, out_schema)

    import numpy as np
    import pandas as pd

    bounds = df.agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        lo, width = 0, 1
    else:
        width = max(1, (hi - lo) // skew_buckets + 1)
    with_b = df.withColumn("__b", F.expr(f"({ts_col} - {lo}L) div {width}L"))

    partial_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in with_b.schema.fields
    ) + ", __p double, __d double"
    group_cols = [*key_cols, "__b"]

    # mapInPandas over repartition+sortWithinPartitions, NOT
    # applyInPandas per (key, bucket): a hot key × N buckets means tens
    # of thousands of tiny groups, and per-group Arrow slicing costs
    # ~1 ms each (measured: 42 s vs ~3 s at 1M rows / 48k groups).
    # Pandas' Cython group-EWM does the whole partition in one call;
    # zero-seeded partials follow from the uniform-seed identity
    # p_i = ys_i - d_i * x_first (standard group ewm IS the c = x_1
    # seeding).
    def per_partition(it):
        chunks = list(it)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        # groups are contiguous and ordered (sortWithinPartitions), so
        # the group-ewm concat order equals row order
        g = pdf.groupby(group_cols, sort=False)
        ys = (
            g[value_col].ewm(alpha=alpha, adjust=False).mean().to_numpy()
        )
        d = np.power(1.0 - alpha, g.cumcount().to_numpy() + 1.0)
        xf = g[value_col].transform("first").to_numpy(dtype=float)
        pdf["__p"] = ys - d * xf
        pdf["__d"] = d
        yield pdf

    partials = (
        with_b.repartition(*group_cols)
        .sortWithinPartitions(*group_cols, ts_col)
        .mapInPandas(per_partition, partial_schema)
    )
    # two consumers (summary + final join): checkpoint so the Python
    # stage and its shuffle run once
    partials = partials.localCheckpoint(eager=False)

    # per-bucket linear map (P_b, D_b) + the key's very first value;
    # #keys × N rows, trivially small at any data volume
    summ = partials.groupBy(*key_cols, "__b").agg(
        F.max_by("__p", ts_col).alias("__P"),
        F.max_by("__d", ts_col).alias("__D"),
        # double: the aggregate() fold's accumulator type is fixed by its
        # initial value — an integer value_col must not leak BIGINT in
        F.min_by(value_col, ts_col).cast("double").alias("__xf"),
    )
    wb = Window.partitionBy(*key_cols).orderBy("__b")
    summ = (
        summ.withColumn("__xf1", F.first("__xf").over(wb))
        .withColumn(
            "__hist",
            F.collect_list(F.struct("__P", "__D")).over(
                wb.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "__carry",
            F.aggregate(
                "__hist",
                F.col("__xf1"),
                lambda acc, s: s["__P"] + s["__D"] * acc,
            ),
        )
        .select(*key_cols, "__b", "__carry")
    )
    out = partials.join(F.broadcast(summ), [*key_cols, "__b"]).withColumn(
        "ewma", F.col("__p") + F.col("__d") * F.col("__carry")
    )
    return out.select(*df.columns, "ewma")


def session_windows(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap: int,
) -> DataFrame:
    """Sessionize events per key: a new session starts when the distance
    to the previous event exceeds ``gap`` — expressed in ``ts_col``'s own
    units (batch-side equivalent of ``F.session_window``;
    gaps-and-islands in one window pass).

    Output: key_cols + (session_start, session_end, n_events) — one row
    per session. One shuffle on the key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    ts = F.col(ts_col)
    new_session = (
        (ts - F.lag(ts).over(w) > gap) | F.lag(ts).over(w).isNull()
    ).cast("long")
    sessioned = df.withColumn(
        "__sid", F.sum(new_session).over(
            Window.partitionBy(*key_cols)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    return sessioned.groupBy(*key_cols, "__sid").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("__sid")


def log_returns(
    ticks: DataFrame,
    key_cols: list[str],
    ts_col: str,
    price_col: str,
) -> DataFrame:
    """Per-key log returns ln(p_t / p_{t-1}) in time order — NULL on each
    key's first tick. One shuffle on the keys; the lag window and any
    downstream per-key aggregation share that partitioning."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    prev = F.lag(price_col).over(w)
    return ticks.withColumn(
        "log_ret", F.when(prev.isNotNull(), F.log(F.col(price_col) / prev))
    )


def realized_volatility(
    ticks: DataFrame,
    key_cols: list[str],
    ts_col: str,
    price_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Realized volatility per (key, bucket): sqrt(Σ r²) over the
    bucket's log returns (returns computed across the full series, then
    bucketed — the standard convention where a bucket's first return
    looks back across the boundary). Lag window and aggregation use the
    same key partitioning: one shuffle total."""
    r = log_returns(ticks, key_cols, ts_col, price_col)
    bucket = time_bucket(F.col(ts_col), bucket_seconds * NS).alias("bucket_ts")
    return (
        r.filter(F.col("log_ret").isNotNull())
        .groupBy(*key_cols, bucket)
        .agg(
            F.sqrt(F.sum(F.col("log_ret") * F.col("log_ret"))).alias("rvol"),
            F.count(F.lit(1)).cast("long").alias("n_returns"),
        )
    )


def drawdown(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    price_col: str,
    skew_buckets: int | None = None,
) -> DataFrame:
    """Running peak and drawdown per key:
    ``peak_t = max(p_s, s<=t)``, ``drawdown_t = p_t/peak_t - 1`` (≤ 0).
    One window pass (running max) — the same single key shuffle as any
    per-key series op; downstream per-key aggregation (max drawdown)
    reuses the partitioning.

    ``skew_buckets=N``: running max is associative, so a hot key splits
    exactly — in-bucket running max combined (``greatest``) with the
    carry-in, where the carry is the running max of the per-(key,
    bucket) maxima (a keys×N frame, one tiny window). Identical results
    (tests/test_skew.py)."""
    if not skew_buckets or skew_buckets <= 1:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        peak = F.max(price_col).over(w)
        return df.withColumn("peak", peak).withColumn(
            "drawdown", F.col(price_col) / F.col("peak") - 1
        )

    bounds = df.agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        lo, width = 0, 1
    else:
        width = max(1, (hi - lo) // skew_buckets + 1)
    with_b = df.withColumn("__b", F.expr(f"({ts_col} - {lo}L) div {width}L"))
    w_in = (
        Window.partitionBy(*key_cols, "__b")
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wprev = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        with_b.groupBy(*key_cols, "__b")
        .agg(F.max(price_col).alias("__m"))
        .withColumn("__carry", F.max("__m").over(wprev))
        .select(*key_cols, "__b", "__carry")
    )
    return (
        with_b.join(F.broadcast(carry), [*key_cols, "__b"])
        # greatest skips NULLs: the first bucket has no carry
        .withColumn(
            "peak", F.greatest(F.max(price_col).over(w_in), F.col("__carry"))
        )
        .withColumn("drawdown", F.col(price_col) / F.col("peak") - 1)
        .select(*df.columns, "peak", "drawdown")
    )


def rolling_zscore(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    window_rows: int = 20,
    min_obs: int = 5,
    skew_buckets: int | None = None,
) -> DataFrame:
    """Rolling z-score per key over the TRAILING ``window_rows`` rows
    EXCLUDING the current one (a point must not partially explain
    itself): ``z_t = (x_t - mean) / stddev_samp``. NULL until ``min_obs``
    prior observations exist or when the window is constant. The
    train-data outlier gate (|z| > k) and any per-key consumer share the
    one key shuffle.

    ``skew_buckets=N`` splits a hyper-hot key by time-bucketing with an
    EXACT halo: the heavy window runs per (key, bucket), and each bucket
    is prepended with the last ``window_rows`` rows of its key's PREFIX
    (all earlier buckets) as context-only rows — a bounded-frame window
    only ever looks ``window_rows`` back, so that halo reproduces every
    frame exactly. The halo source is the per-bucket tail table (last
    ``window_rows`` rows per (key, bucket) — a row deeper than its own
    bucket's tail can never reach a later bucket's frame), expanded by a
    prefix-last-w pass over that keys×N×w-row frame; context rows carry
    NULL payload and are dropped after the window. Identical results to
    the unbucketed path (tests/test_skew.py); assumes PK-unique ts per
    key like every order-sensitive operator."""
    if not skew_buckets or skew_buckets <= 1:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(ts_col)
            .rowsBetween(-window_rows, -1)
        )
        mu = F.avg(value_col).over(w)
        sd = F.stddev_samp(value_col).over(w)
        n = F.count(value_col).over(w)
        z = F.when(
            (n >= min_obs) & (sd > 0), (F.col(value_col) - mu) / sd
        )
        return df.withColumn("n_window", n).withColumn("zscore", z)

    import pandas as pd

    bounds = df.agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        lo, width = 0, 1
    else:
        width = max(1, (hi - lo) // skew_buckets + 1)
    with_b = df.withColumn("__b", F.expr(f"({ts_col} - {lo}L) div {width}L"))

    # last window_rows rows of every (key, bucket): the only rows that
    # can ever appear in a later bucket's trailing frame
    wdesc = Window.partitionBy(*key_cols, "__b").orderBy(F.col(ts_col).desc())
    tails = (
        with_b.select(*key_cols, "__b", ts_col, value_col)
        .withColumn("__rn", F.row_number().over(wdesc))
        .filter(F.col("__rn") <= window_rows)
        .drop("__rn")
    )

    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in key_cols
    )
    ts_t = df.schema[ts_col].dataType.simpleString()
    v_t = df.schema[value_col].dataType.simpleString()
    ctx_schema = f"{key_fields}, __b long, {ts_col} {ts_t}, {value_col} {v_t}"

    def expand(pdf: pd.DataFrame):
        # per key: for each bucket, emit the last window_rows rows of the
        # concatenated earlier-bucket tails as that bucket's context
        pdf = pdf.sort_values(["__b", ts_col])
        keys = {c: pdf.iloc[0][c] for c in key_cols}
        out_b, out_ts, out_v = [], [], []
        prefix_ts: list = []
        prefix_v: list = []
        for b, grp in pdf.groupby("__b", sort=True):
            for t, v in zip(prefix_ts[-window_rows:], prefix_v[-window_rows:]):
                out_b.append(b)
                out_ts.append(t)
                out_v.append(v)
            prefix_ts.extend(grp[ts_col].tolist())
            prefix_v.extend(grp[value_col].tolist())
            # only the last window_rows of the prefix ever matter
            prefix_ts = prefix_ts[-window_rows:]
            prefix_v = prefix_v[-window_rows:]
        out = pd.DataFrame({"__b": out_b, ts_col: out_ts, value_col: out_v})
        for c, val in keys.items():
            out[c] = val
        return out[[*key_cols, "__b", ts_col, value_col]]

    ctx = tails.groupBy(*key_cols).applyInPandas(expand, ctx_schema)
    own = with_b.withColumn("__ctx", F.lit(0))
    merged = own.unionByName(
        ctx.withColumn("__ctx", F.lit(1)), allowMissingColumns=True
    )
    w2 = (
        Window.partitionBy(*key_cols, "__b")
        .orderBy(ts_col)
        .rowsBetween(-window_rows, -1)
    )
    mu = F.avg(value_col).over(w2)
    sd = F.stddev_samp(value_col).over(w2)
    n = F.count(value_col).over(w2)
    z = F.when((n >= min_obs) & (sd > 0), (F.col(value_col) - mu) / sd)
    return (
        merged.withColumn("n_window", n)
        .withColumn("zscore", z)
        .filter(F.col("__ctx") == 0)
        .select(*df.columns, "n_window", "zscore")
    )


def pairwise_correlation(
    series: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Pearson correlation for every key pair over time-aligned values
    (inner-aligned: only timestamps both keys observe contribute). The
    self-join is an equi-join on the time column — at scale this
    shuffles on time once and never materializes the n_keys² cross
    product per row. Output: (key_a, key_b, corr, n_obs), key_a <
    key_b."""
    a = series.select(
        F.col(key_col).alias("key_a"),
        F.col(time_col).alias("__t"),
        F.col(value_col).alias("__va"),
    )
    b = series.select(
        F.col(key_col).alias("key_b"),
        F.col(time_col).alias("__t"),
        F.col(value_col).alias("__vb"),
    )
    joined = a.join(b, "__t").filter(F.col("key_a") < F.col("key_b"))
    return joined.groupBy("key_a", "key_b").agg(
        F.corr("__va", "__vb").alias("corr"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )
