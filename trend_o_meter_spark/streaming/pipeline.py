"""Streaming pipelines: the reference's continuous queries on watermarked
Structured Streaming (SURVEY §2.9).

Divergences from the reference, by design (documented, principled):
* late data: the reference accepts arbitrarily-late samples and corrupts
  its sort invariant (trend-o-meter:301,387,413-415); we bound lateness
  with an explicit watermark and drop beyond it.
* retention: watermark-driven state eviction replaces the lazy
  one-per-event cull (F4) and the gap-repair hack (F7).
* the event-time-gap trigger (F3) becomes a tumbling event-time window —
  same cadence, aligned grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_tumbling_mean(
    readings: DataFrame,
    *,
    ts: str = "ts",
    value: str = "value",
    keys: tuple[str, ...] = ("metric",),
    window_seconds: int = 60,
    watermark: str = "2 minutes",
) -> DataFrame:
    """A4 streaming twin: per-key tumbling mean with watermark.

    Output: ``*keys, window_start, window_end, mean_value, n_samples``.
    """
    return (
        readings.withWatermark(ts, watermark)
        .groupBy(*keys, F.window(ts, f"{window_seconds} seconds").alias("__w"))
        .agg(
            F.avg(value).alias("mean_value"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            *keys,
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            "mean_value",
            "n_samples",
        )
    )


def stream_sliding_rates(
    messages: DataFrame,
    *,
    ts: str = "ts",
    size_col: str | None = None,
    window_seconds: int = 10,
    watermark: str = "30 seconds",
) -> DataFrame:
    """A7 streaming twin: msgs/sec + bytes/sec over a sliding window.

    ``window(ts, W, 1s)`` slide; rates are window sums / W; the
    reference's half-full render gate maps to the ``is_warm`` flag
    computed from distinct seconds present.
    """
    # octet_length: BYTES, matching the batch twin (operators/rates.py)
    sized = F.octet_length(size_col) if size_col else F.lit(0)
    return (
        messages.withWatermark(ts, watermark)
        .groupBy(F.window(ts, f"{window_seconds} seconds", "1 second").alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum(sized).alias("n_bytes"),
            F.approx_count_distinct(F.unix_timestamp(F.col(ts))).alias("n_seconds"),
        )
        .select(
            F.col("__w.end").alias("window_end"),
            (F.col("n_msgs") / F.lit(float(window_seconds))).alias("msgs_per_sec"),
            (F.col("n_bytes") / F.lit(float(window_seconds))).alias("bytes_per_sec"),
            (F.col("n_seconds") > F.lit(window_seconds / 2.0)).alias("is_warm"),
        )
    )


def stream_exact_dedup(
    docs: DataFrame,
    *,
    ts: str = "ts",
    text: str = "text",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``llm.dedup.exact_dedup``: emit each distinct
    normalized-content document once, drop re-arrivals inside the
    watermark horizon (``dropDuplicatesWithinWatermark`` — state for a
    content hash is evicted once the watermark passes it, so dedup state
    is bounded by the horizon, not the stream length).

    The horizon IS the semantic contract: a duplicate arriving later than
    ``watermark`` after its twin is re-emitted.  Batch-exact global dedup
    over unbounded history is the batch operator's job (run it in the
    backfill leg of the lambda shape, this one on the tail).
    """
    from ..llm.dedup import _norm

    keyed = docs.withColumn("__content_hash", F.md5(_norm(F.col(text))))
    return (
        keyed.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["__content_hash"])
        .withColumnRenamed("__content_hash", "content_hash")
    )


def stream_session_channels(
    messages: DataFrame,
    *,
    ts: str = "ts",
    channel: str = "channel",
    gap_seconds: int = 60,
    watermark: str = "2 minutes",
) -> DataFrame:
    """F5/A8 streaming twin: per-channel activity sessions.

    ``session_window`` closes a session after ``gap_seconds`` of silence —
    exactly the reference's inactivity cutoff, with state evicted by the
    watermark instead of the manual scan at trend-o-meter:470-479.
    """
    return (
        messages.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), f"{gap_seconds} seconds").alias("__s"), F.col(channel))
        .agg(F.count(F.lit(1)).alias("n_msgs"))
        .select(
            F.col(channel),
            F.col("__s.start").alias("session_start"),
            F.col("__s.end").alias("session_end"),
            "n_msgs",
        )
    )


def stream_stream_enrich(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: tuple[str, ...] = ("metric",),
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    lookback_seconds: int = 60,
    left_watermark: str = "2 minutes",
    right_watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: attach to each left event the
    right-side rows of the same key whose timestamp falls inside
    ``[left_ts - lookback_seconds, left_ts]`` — the live enrichment shape
    (a reading joined to the command/annotation that preceded it).

    Both sides carry a watermark and the join condition carries the time
    bound, so Spark evicts join state once the watermark passes the
    lookback horizon: state is O(events inside horizon) per side, never
    O(stream).  ``left_ts`` and ``right_ts`` must be distinct column
    names (the output carries both).

    The batch twin is a plain equi-join + range filter (interval-join
    family); the test pins stream output == batch output when nothing is
    late.
    """
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    # rename right keys so the joined frame has no ambiguous columns
    for k in keys:
        rw = rw.withColumnRenamed(k, f"__r_{k}")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    cond = (
        cond
        & (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback_seconds} SECONDS"))
    )
    return lw.join(rw, cond).drop(*[f"__r_{k}" for k in keys])


def seed_history(
    backfill: DataFrame,
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    metric: str = "metric",
    gap_seconds: float = 60.0,
) -> None:
    """Backfill half of the lambda shape (SURVEY §1.1 "backfill + tail").

    Downsamples a bounded historical frame with the SAME cadence the live
    stream uses and writes it to the history table's dedicated SEED
    partition (``__batch_id=-2`` — never folded by compaction) — the
    Spark equivalent of the reference's startup list replay
    (trend-o-meter:289-310) feeding the same state the pub/sub handler
    appends to.  Re-seeding replaces exactly the previous backfill,
    never the live micro-batch partitions nor the compacted base; the
    read path's retention transform culls expired backfill rows
    logically (see ``statestore`` module doc for why the physical cull
    happens only at re-seed).
    """
    from ..operators.downsample import downsample_fixed_grid
    from .statestore import PartialStateTable

    ds = downsample_fixed_grid(
        backfill.select(metric, ts, value), ts=ts, keys=(metric,), gap_seconds=gap_seconds
    )
    # canonicalize to the live partitions' (metric, ts, value) schema —
    # the stream side writes DOWNSAMPLED_SCHEMA whatever the caller's
    # column names, and seed + live must agree inside one parquet table
    PartialStateTable(state_path).seed(
        ds.select(
            F.col(metric).alias("metric"),
            F.col(ts).alias("ts"),
            F.col(value).alias("value"),
        )
    )


def stream_day_bins(
    readings: DataFrame,
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    metric: str = "metric",
    gap_seconds: float = 60.0,
    day_bins: tuple[int, ...] = (1, 3, 5, 7),
    min_data_hours: int = 18,
    retention_days: float | None | str = "auto",
    compact_every: int = 25,
    on_result: "object" = None,
):
    """The reference's live loop (§3.2) end-to-end as a continuous query.

    backfill+tail shape: the gap-anchored downsample keeps its anchor in
    the state store (``stream_anchored_downsample``); each micro-batch's
    kept samples land in a replay-idempotent parquet state table (the
    durable stand-in for the reference's in-memory ``metricHistory`` —
    its Redis list WAL, trend-o-meter:142-144; see
    :class:`.statestore.PartialStateTable` for the at-least-once story),
    then the flagship day-bin aggregation re-runs over the state table
    and the result goes to ``on_result(batch_id, DataFrame)`` (e.g. the
    display renderer).

    The full recompute per batch mirrors the reference's ``runParse()``
    per accepted sample (trend-o-meter:418) — but columnar, and over the
    downsampled table (1 row/min/metric), so the recompute input at any
    scale is tiny: the A3 anchor is data-derived (max ts per metric),
    which no incremental streaming agg can window on — SURVEY §7.3.

    State is BOUNDED by default: ``retention_days="auto"`` applies the
    F4 range cull at ``max(day_bins)`` days (the reference's own
    retention horizon, trend-o-meter:421-435) to every scan, and every
    ``compact_every`` batches the state table folds its per-batch
    partitions into one culled base — so both the row count AND the
    file count stay flat on a long-running query instead of growing
    O(#batches).  Pass ``retention_days=None`` to keep history forever
    (compaction still bounds the file count) or a number to override
    the horizon.

    Each micro-batch runs the stateful downsample ONCE: the batch is
    persisted before its two actions (the empty-batch check and the
    state-table append) and unpersisted after, Spark's documented
    ``foreachBatch`` pattern for more than one action on one batch.
    Unpersisted, each action re-executes the whole
    ``applyInPandasWithState`` stage — every state partition's Python
    task and state-store commit, twice per batch.

    Returns the function for ``writeStream.foreachBatch`` — caller starts
    the query (checkpointing recommended).
    """
    from ..operators.daybins import day_binned_extremes
    from ..operators.retention import retain_window
    from .stateful import stream_anchored_downsample
    from .statestore import PartialStateTable

    if retention_days == "auto":
        retention_days = float(max(day_bins))
    kept = stream_anchored_downsample(
        readings, ts=ts, value=value, metric=metric, gap_seconds=gap_seconds
    )
    st = PartialStateTable(state_path)
    # the downsample CANONICALIZES its output columns to (metric, ts,
    # value) whatever the input names (DOWNSAMPLED_SCHEMA) — everything
    # downstream of the state table must use the canonical names, not
    # the caller's: a non-default `metric="sensor"` otherwise crashes
    # retain_window/day_binned_extremes on a missing column
    cull = (
        None
        if retention_days is None
        else (lambda df: retain_window(df, ts="ts", keys=("metric",), days=retention_days))
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=cull)
        batch_df.persist()  # two actions below; see the docstring
        try:
            if not batch_df.isEmpty():
                st.append(batch_df, batch_id)
        finally:
            batch_df.unpersist()
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if cull is not None:
            state = cull(state)
        result = day_binned_extremes(
            state, ts="ts", value="value", metric="metric",
            day_bins=day_bins, min_data_hours=min_data_hours,
        )
        if on_result is not None:
            on_result(batch_id, result)

    return kept, per_batch


def stream_trending(
    *,
    state_path: str,
    ts: str = "ts",
    keys: tuple[str, ...] = ("metric",),
    bucket_seconds: int = 86400,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live trend detection: the streaming twin of
    ``operators.trend.trending_counts``.

    Each micro-batch writes its PARTIAL per-(key, bucket) counts to a
    replay-idempotent counts table (:class:`.statestore
    .PartialStateTable` — a replayed micro-batch overwrites its own
    partition instead of double-counting; late rows within the horizon
    simply add to their bucket), then re-scores the re-summed table and
    hands the result to ``on_result(batch_id, DataFrame)``.

    Recompute input is the counts table — O(keys x active buckets), never
    O(events) — the same bounded-state argument as ``stream_day_bins``'s
    downsampled history; every ``compact_every`` batches the partials
    fold into one pre-summed base so the file count stays flat too.
    Returns the ``foreachBatch`` callable.
    """
    from ..operators.trend import score_bucket_counts
    from .statestore import PartialStateTable

    b = (F.floor(F.unix_seconds(F.col(ts)) / bucket_seconds) * bucket_seconds).cast("long")
    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "__b").agg(F.sum("__c").cast("long").alias("__c"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = batch_df.withColumn("__b", b).groupBy(*keys, "__b").agg(
                F.count(F.lit(1)).alias("__c")
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        result = score_bucket_counts(merge(state), keys=keys, bucket_seconds=bucket_seconds)
        if on_result is not None:
            on_result(batch_id, result)

    return per_batch


def stream_cms(
    *,
    state_path: str,
    key: str = "metric",
    width: int = 64,
    depth: int = 4,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live frequency sketching: the streaming twin of
    ``operators.cms.cms_build`` — each micro-batch builds its PARTIAL
    count-min grid and writes it to a replay-idempotent grid table; the
    merged sketch (elementwise sum — CMS grids merge losslessly) is
    re-read and handed to ``on_result(batch_id, DataFrame)``.

    The sum-merge is ADDITIVE, so at-least-once replay protection
    matters here more than anywhere (a re-appended partial grid would
    double every count it carries): :class:`.statestore
    .PartialStateTable` makes the per-batch write idempotent and the
    read replay-filtered, so the streaming sketch EQUALS the batch
    sketch of the union (test-pinned, including the replay case).
    State is O(batches x depth x width) grid rows between compactions;
    every ``compact_every`` batches the partials fold into one
    pre-summed O(depth x width) base grid.  Returns the
    ``foreachBatch`` callable.
    """
    from ..operators.cms import cms_build
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("row_id", "bucket").agg(F.sum("cnt").cast("long").alias("cnt"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(cms_build(batch_df, key=key, width=width, depth=depth), batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(batch_id, merge(state))

    return per_batch


def stream_hll_rollup(
    *,
    state_path: str,
    ts: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    id_col: str = "user_id",
    bucket_seconds: int = 86400,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live distinct-count rollup: the streaming twin of
    ``workload.sketch_rollup`` — each micro-batch writes its PARTIAL
    per-(key, day) HLL sketches (binary register state) to a
    replay-idempotent sketch table; estimates come from
    ``hll_union_agg`` over the merged table.  HLL union is the lossless
    register-wise max — idempotent, so a replayed partial could never
    skew the estimate anyway — but the shared
    :class:`.statestore.PartialStateTable` still bounds the file count
    (folding partials into per-(key, day) union sketches every
    ``compact_every`` batches) and keeps all four foreachBatch
    pipelines on one state discipline.

    The estimate re-aggregation never rescans raw events — the same
    hypertable argument as the batch rollup.  Returns the
    ``foreachBatch`` callable; ``on_result(batch_id, DataFrame)`` gets
    ``*keys, approx_users`` per key over all days seen.
    """
    from .statestore import PartialStateTable

    b = F.date_trunc("day", F.col(ts)) if bucket_seconds == 86400 else (
        F.timestamp_seconds(
            (F.floor(F.unix_seconds(F.col(ts)) / bucket_seconds) * bucket_seconds).cast("long")
        )
    )
    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "__day").agg(F.hll_union_agg("__sk").alias("__sk"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = batch_df.withColumn("__day", b).groupBy(*keys, "__day").agg(
                F.hll_sketch_agg(id_col).alias("__sk")
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        result = state.groupBy(*keys).agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("approx_users")
        )
        if on_result is not None:
            on_result(batch_id, result)

    return per_batch


def run_to_memory_sink(
    df: DataFrame,
    *,
    name: str,
    output_mode: str = "append",
    timeout_seconds: float = 30.0,
) -> StreamingQuery:
    """Start the stream into an in-memory table (tests / display
    emulation).  Blocks up to ``timeout_seconds`` for the FIRST
    micro-batch to land, so ``spark.sql(f"SELECT * FROM {name}")`` right
    after the call does not race an empty table; the query keeps running
    either way (stop it via the returned handle)."""
    import time as _time

    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", f"/tmp/tom-spark-ckpt/{name}")
        .start()
    )
    deadline = _time.time() + timeout_seconds
    while _time.time() < deadline and not q.recentProgress:
        _time.sleep(0.1)
    return q


def stream_histogram(
    *,
    state_path: str,
    value: str = "value",
    bin_width: float = 1.0,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live quantile sketching: the streaming twin of
    ``operators.histogram.histogram_sketch`` — each micro-batch writes
    its PARTIAL (bin, cnt) histogram to a replay-idempotent state table;
    the merged sketch (bin-keyed count addition — lossless) is re-read
    and handed to ``on_result(batch_id, DataFrame)``, ready for
    ``histogram_quantiles``.

    Same additive-state discipline as :func:`stream_cms` (a re-appended
    partial would double its counts; :class:`.statestore
    .PartialStateTable` makes the write idempotent and the read
    replay-filtered), so the streaming sketch EQUALS the batch sketch of
    the union (test-pinned).  State is O(batches x bins) rows between
    compactions; every ``compact_every`` batches the partials fold into
    one pre-summed O(bins) base.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.histogram import histogram_sketch
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("bin").agg(F.sum("cnt").cast("long").alias("cnt"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(histogram_sketch(batch_df, value=value, bin_width=bin_width), batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(batch_id, merge(state))

    return per_batch


def stream_priority_sample(
    *,
    state_path: str,
    weight: str = "n_chars",
    strata: str = "source",
    id_col: str = "doc_id",
    k: int = 20,
    salt: str = "priority-v1",
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live weighted reservoir: the streaming twin of
    ``llm.sampling.priority_sample`` — each micro-batch writes its
    per-stratum top-(k+1) priority rows to a replay-idempotent state
    table; the merged top-(k+1) (re-rank of the union on STORED
    priorities — lossless, the union's top-(k+1) is contained in the
    union of per-batch top-(k+1)s) is finalized to the sample + tau +
    max(w, tau) estimator and handed to ``on_result(batch_id,
    DataFrame)``.

    Same :class:`.statestore.PartialStateTable` discipline as
    :func:`stream_histogram`; because the merge is lossless the
    streaming sample EQUALS the batch sample of the union bit-for-bit
    (test-pinned) — priority sampling is a true mergeable sketch over
    the corpus seen so far.  State is O(batches x strata x k) rows
    between compactions, O(strata x k) after.  Returns the
    ``foreachBatch`` callable.
    """
    from ..llm.sampling import priority_finalize, priority_ranked, rerank
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return rerank(df, strata=strata, id_col=id_col, k=k)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(
                priority_ranked(
                    batch_df, weight=weight, strata=strata, id_col=id_col,
                    k=k, salt=salt,
                ),
                batch_id,
            )
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(
                batch_id,
                priority_finalize(merge(state), strata=strata, id_col=id_col, k=k),
            )

    return per_batch


def stream_tdigest(
    *,
    state_path: str,
    value: str = "value",
    keys: tuple[str, ...] = ("event_type",),
    delta: int = 200,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live adaptive quantiles: the streaming twin of
    ``operators.tdigest.tdigest_sketch`` (the seventh mergeable family)
    — each micro-batch writes its PARTIAL per-key digest (one row per
    key: parallel means/weights arrays + exact n/min/max) to a
    replay-idempotent state table; the merged digest is re-read and
    handed to ``on_result(batch_id, DataFrame)``, ready for
    ``tdigest_quantiles``.

    Same :class:`.statestore.PartialStateTable` discipline as
    :func:`stream_histogram` (re-appended partial replaces, never
    doubles).  Unlike the six integer families the digest merge is
    LOSSY-bounded, not bit-lossless — so the twin contract is "the
    streaming digest's quantile estimates satisfy the same rank bounds
    as batch" (test-pinned), not bit equality.  State is
    O(batches x keys) rows (each <= ~2*delta centroids) between
    compactions; compaction folds them into O(keys) rows, keeping state
    flat forever.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.tdigest import tdigest_merge, tdigest_sketch
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return tdigest_merge(df, keys=keys, delta=delta)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(
                tdigest_sketch(batch_df, value=value, keys=keys, delta=delta),
                batch_id,
            )
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(batch_id, merge(state))

    return per_batch


def stream_moments(
    *,
    state_path: str,
    value: str = "value",
    keys: tuple[str, ...] = (),
    scale: int = 100,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live distribution-shape sketching: the streaming twin of
    ``operators.moments.moments_sketch`` (the fourth mergeable family —
    HLL distincts, CMS frequencies, histogram quantiles, THIS for
    mean/variance/skew/kurtosis) — each micro-batch writes its PARTIAL
    per-key power sums to a replay-idempotent state table; the merged
    sketch (keyed addition of exact integers — lossless) is re-read and
    handed to ``on_result(batch_id, DataFrame)``, ready for
    ``moments_stats``.

    Same additive-state discipline as :func:`stream_cms` /
    :func:`stream_histogram` (a re-appended partial would double its
    sums; :class:`.statestore.PartialStateTable` makes the write
    idempotent and the read replay-filtered), so the streaming sketch
    EQUALS the batch sketch of the union (test-pinned).  State is
    O(batches x keys) rows between compactions; every ``compact_every``
    batches the partials fold into one pre-summed O(keys) base.
    Returns the ``foreachBatch`` callable.
    """
    from ..operators.moments import moments_merge, moments_sketch
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return moments_merge(df, keys=keys)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(
                moments_sketch(batch_df, value=value, keys=keys, scale=scale), batch_id
            )
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(batch_id, merge(state))

    return per_batch


def stream_kmv(
    *,
    state_path: str,
    keys: tuple[str, ...] = ("event_type",),
    id_col: str = "user_id",
    k: int = 64,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live distinct-under-set-algebra sketching: the streaming twin of
    ``operators.theta.kmv_sketch`` (fifth mergeable family) — each
    micro-batch writes its PARTIAL per-key KMV arrays to the shared
    replay-idempotent state table; the merged sketch (keyed
    k-smallest-of-union) is re-read and handed to
    ``on_result(batch_id, DataFrame)``, ready for ``kmv_estimate`` /
    ``kmv_set_estimates``.

    Like HLL (a register-max union) and unlike the additive CMS /
    histogram / moments families, the KMV merge is IDEMPOTENT — a
    replayed partial cannot skew the sketch — but the shared
    :class:`.statestore.PartialStateTable` still bounds file count and
    keeps all five foreachBatch sketch pipelines on one state
    discipline.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.theta import kmv_merge, kmv_sketch
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return kmv_merge(df, keys=keys, k=k)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(kmv_sketch(batch_df, keys=keys, id_col=id_col, k=k), batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(batch_id, merge(state))

    return per_batch


def stream_bloom(
    *,
    state_path: str,
    keys: tuple[str, ...] = ("event_type",),
    key: str = "user_id",
    m: int = 2048,
    k: int = 3,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live set-membership sketching: the streaming twin of
    ``operators.bloom`` (sixth mergeable family) — each micro-batch
    writes its PARTIAL per-group set-bit rows to the shared
    replay-idempotent state table; the merged filter (union-distinct)
    is re-read and handed to ``on_result(batch_id, DataFrame)``, ready
    for ``bloom_probe``.

    Like HLL and KMV (and unlike the additive CMS/histogram/moments
    merges), the Bloom merge is IDEMPOTENT — a replayed partial sets
    bits that are already set — so at-least-once delivery cannot skew
    the filter.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.bloom import bloom_build, bloom_merge
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return bloom_merge(df, keys=keys)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(bloom_build(batch_df, key=key, keys=keys, m=m, k=k), batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        if on_result is not None:
            on_result(batch_id, merge(state))

    return per_batch


def stream_seasonal_profile(
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    keys: tuple[str, ...] = ("metric",),
    period_seconds: int = 86400,
    bucket_seconds: int = 3600,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live seasonal profile: the streaming twin of
    ``operators.trend.seasonal_decompose``'s phase-mean profile — each
    micro-batch writes its PARTIAL per-(key, phase) exact-decimal sum +
    count to a replay-idempotent state table; the merged profile
    (``sum(decimal)/count`` — decimal addition is associative, so the
    streaming profile EQUALS the batch profile of the union bit-for-bit)
    is handed to ``on_result(batch_id, DataFrame)`` as ``*keys, phase,
    seasonal``, ready to broadcast against incoming samples for live
    "wild for 3am" residuals.

    Additive state (a replayed partial would double its sums) — the
    same :class:`.statestore.PartialStateTable` discipline as
    :func:`stream_cms`.  State is O(keys x phases) per partial (24
    rows/key under the defaults), folding to one base every
    ``compact_every`` batches.  Returns the ``foreachBatch`` callable.
    """
    from .statestore import PartialStateTable

    phase = F.floor(
        (F.unix_seconds(F.col(ts)) % period_seconds) / bucket_seconds
    ).cast("int")
    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "phase").agg(
            F.sum("__s").alias("__s"), F.sum("__c").cast("long").alias("__c")
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(value).isNotNull())
                .withColumn("phase", phase)
                .groupBy(*keys, "phase")
                .agg(
                    F.sum(F.col(value).cast("decimal(28,8)")).alias("__s"),
                    F.count(F.lit(1)).cast("long").alias("__c"),
                )
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        m = merge(state)
        # identical expression shape to the batch profile: decimal total
        # cast double, divided by the long count
        profile = m.select(
            *keys,
            "phase",
            (F.col("__s").cast("double") / F.col("__c")).alias("seasonal"),
        )
        if on_result is not None:
            on_result(batch_id, profile)

    return per_batch


def stream_mad(
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    keys: tuple[str, ...] = ("metric",),
    bin_width: float = 1.0,
    z_threshold: float = 3.5,
    compact_every: int = 25,
    on_result: "object" = None,
    on_profile: "object" = None,
):
    """Live robust anomaly monitor: the streaming form of
    ``operators.trend.mad_anomalies``, with the per-key median/MAD
    carried as the MERGEABLE keyed histogram sketch
    (``operators.histogram.histogram_sketch_keyed``) instead of an
    exact value multiset — state is O(keys x bins) however long the
    stream runs, and a replayed micro-batch cannot double-count
    (additive state on the shared :class:`.statestore
    .PartialStateTable` discipline).

    Each batch: append the batch's partial keyed histogram, re-estimate
    per-key ``med_est/mad_est`` from the merged sketch
    (``histogram_median_mad`` — within ``3*bin_width`` of the exact
    values, test-pinned), then flag THIS batch's rows with
    ``|0.6745*(v-med_est)/mad_est| > z_threshold`` — the live-monitor
    semantics (new points scored against all history including
    themselves; the batch operator scores every point against the full
    population the same way).  ``on_profile(batch_id, DataFrame)`` gets
    ``*keys, med_est, mad_est``; ``on_result(batch_id, DataFrame)``
    gets the flagged rows ``*keys, ts, value, med_est, mad_est,
    robust_z``.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.histogram import histogram_median_mad, histogram_sketch_keyed
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "bin").agg(F.sum("cnt").cast("long").alias("cnt"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(
                histogram_sketch_keyed(
                    batch_df, keys=keys, value=value, bin_width=bin_width
                ),
                batch_id,
            )
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        prof = histogram_median_mad(merge(state), keys=keys, bin_width=bin_width)
        if on_profile is not None:
            on_profile(batch_id, prof)
        if on_result is not None:
            scored = batch_df.join(F.broadcast(prof), list(keys)).withColumn(
                "robust_z",
                F.lit(0.6745)
                * (F.col(value) - F.col("med_est"))
                / F.nullif(F.col("mad_est"), F.lit(0.0)),
            )
            flagged = scored.filter(
                F.abs(F.col("robust_z")) > F.lit(float(z_threshold))
            ).select(*keys, ts, value, "med_est", "mad_est", "robust_z")
            on_result(batch_id, flagged)

    return per_batch


def stream_theil_sen(
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    keys: tuple[str, ...] = ("metric",),
    bucket_seconds: int = 86400,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live robust trend: the streaming twin of
    ``operators.trend.theil_sen_slope``, completing the monitoring
    family's live forms (seasonal profile, MAD, and now the slope).

    Each micro-batch appends its PARTIAL per-(key, bucket) exact-decimal
    sum + count; the merged state reproduces the batch operator's bucket
    means bit-for-bit (decimal addition is associative), and the
    snapshot handed to ``on_result(batch_id, DataFrame)`` runs the
    IDENTICAL pairwise-slope/median estimator
    (``operators.trend.theil_sen_from_means``) — so the streaming
    answer EQUALS the batch answer over the union, not an approximation
    of it.  Output columns match the batch operator: ``*keys,
    n_buckets, n_pairs, slope_per_hour, intercept``.

    Scale: state is O(keys x span/bucket) rows forever (the same
    span-bounded contract as the batch oracle); the sample stream
    contributes one partial-aggregating groupBy per batch and is never
    re-shuffled.  Additive state on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline, like
    :func:`stream_seasonal_profile`.  Returns the ``foreachBatch``
    callable.
    """
    from ..operators.trend import theil_sen_from_means
    from .statestore import PartialStateTable

    b = (F.floor(F.unix_seconds(F.col(ts)) / bucket_seconds) * bucket_seconds).cast(
        "long"
    )
    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "__b").agg(
            F.sum("__s").alias("__s"), F.sum("__c").cast("long").alias("__c")
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(value).isNotNull())
                .groupBy(*keys, b.alias("__b"))
                .agg(
                    F.sum(F.col(value).cast("decimal(28,8)")).alias("__s"),
                    F.count(F.lit(1)).cast("long").alias("__c"),
                )
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:  # state path not created yet (all-empty batches)
            return
        m = merge(state)
        # identical expression shape to the batch operator's bucket means
        means = m.select(
            *keys, "__b", (F.col("__s").cast("double") / F.col("__c")).alias("__m")
        )
        if on_result is not None:
            on_result(batch_id, theil_sen_from_means(means, keys=keys))

    return per_batch


def stream_psi(
    *,
    state_path: str,
    ref_counts: dict[int, int],
    value: str = "value",
    bin_width: int = 32,
    eps: float = 1e-4,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live Population Stability Index: the streaming form of
    ``llm.text.split_drift_psi`` — the accumulating live distribution
    (per-bin counts, the perfectly ADDITIVE state) scored each
    micro-batch against a FROZEN reference profile (``ref_counts``:
    ``{bin_lo: n}`` from the training corpus; freezing is the point —
    drift must not move its own baseline).  The production data-quality
    gate: a feature pipeline silently reshaping its output distribution
    alarms here batches before a model metric would move.

    Same term arithmetic as the batch operator (epsilon clamp, per-bin
    ``(p-q)*ln(p/q)`` quantized at 1e-6 into BIGINTs, exact integer
    total).  State is O(occupied bins) counts on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline.
    ``on_result(batch_id, DataFrame)`` receives ``bin_lo, n_ref,
    n_live, psi_term, psi_total``.  Returns the ``foreachBatch``
    callable.
    """
    from ..llm.text import psi_from_counts
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("bin_lo").agg(F.sum("__c").cast("long").alias("__c"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(value).isNotNull())
                .groupBy(
                    (F.floor(F.col(value) / bin_width) * bin_width)
                    .cast("long")
                    .alias("bin_lo")
                )
                .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        live = merge(state)
        ref = spark.createDataFrame(
            [(int(k), int(v)) for k, v in ref_counts.items()] or [(0, 0)],
            "bin_lo long, n_a long",
        )
        # the shared batch tail (llm.text.psi_from_counts) does the
        # clamp/ln/quantization — the live gate can never desynchronize
        # from the batch gate's arithmetic
        bins = (
            live.select("bin_lo", F.col("__c").alias("n_b"))
            .join(F.broadcast(ref), "bin_lo", "full_outer")
            .select(
                "bin_lo",
                F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
                F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
            )
        )
        out = psi_from_counts(bins, eps=eps).select(
            "bin_lo",
            F.col("n_a").alias("n_ref"),
            F.col("n_b").alias("n_live"),
            "psi_term",
            "psi_total",
        )
        if on_result is not None:
            on_result(batch_id, out)

    return per_batch


def stream_trend_slope(
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    keys: tuple[str, ...] = ("metric",),
    bucket_seconds: int = 86400,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live least-squares trend: the streaming twin of
    ``operators.trend.trend_slope`` — each micro-batch appends its
    PARTIAL per-(key, bucket) closed-form sums (count, sum x, sum y,
    sum xy, sum x^2; exact decimals, so partial addition is associative
    and the merged sums EQUAL the batch sums bit-for-bit), and the
    snapshot runs the identical closed-form tail
    (``trend_slope_from_sums``).  State is O(keys x span/bucket) rows
    of five decimals on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline; the sample
    stream contributes one partial-aggregating groupBy per batch.
    ``on_result(batch_id, DataFrame)`` receives the batch operator's
    exact output columns.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.trend import trend_slope_from_sums
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)
    bucket = (
        F.floor(F.unix_seconds(F.col(ts)) / bucket_seconds) * bucket_seconds
    ).alias("__b")

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, "__b").agg(
            F.sum("n_samples").cast("long").alias("n_samples"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxy").alias("sxy"),
            F.sum("sxx").alias("sxx"),
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            x = (
                F.unix_micros(F.col(ts)) - F.col("__b") * F.lit(1_000_000)
            ).cast("decimal(19,0)")
            y = F.col(value).cast("decimal(18,6)")
            partial = (
                batch_df.withColumn("__b", bucket)
                .groupBy(*keys, "__b")
                .agg(
                    F.count(F.lit(1)).alias("n_samples"),
                    F.sum(x).alias("sx"),
                    F.sum(y).alias("sy"),
                    F.sum(x * y).alias("sxy"),
                    F.sum(x * x).alias("sxx"),
                )
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(batch_id, trend_slope_from_sums(merge(state), keys=keys))

    return per_batch


def stream_metric_correlation(
    *,
    state_path: str,
    ts: str = "ts",
    value: str = "value",
    metric_col: str = "metric",
    bucket_seconds: int = 3600,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live cross-metric Pearson correlation: the streaming twin of
    ``operators.trend.metric_correlation`` — per-(metric, bucket)
    BIGINT micro-unit totals are the perfectly additive state; the
    snapshot runs the identical pairing + exact-decimal Pearson tail
    (``metric_correlation_from_totals``), so the live correlation
    matrix EQUALS the batch answer over the union bit-for-bit at every
    micro-batch.  State is O(metrics x span/bucket) longs on the
    :class:`.statestore.PartialStateTable` discipline.
    ``on_result(batch_id, DataFrame)`` receives ``metric_a, metric_b,
    n_buckets, corr``.  Returns the ``foreachBatch`` callable.
    """
    from ..operators.trend import metric_correlation_from_totals
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)
    b = (
        F.floor(F.unix_seconds(F.col(ts)) / bucket_seconds) * bucket_seconds
    ).cast("long")
    yq = (F.col(value).cast("decimal(18,6)") * F.lit(1000000)).cast("long")

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("__m", "__b").agg(F.sum("__t").cast("long").alias("__t"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(value).isNotNull())
                .groupBy(F.col(metric_col).alias("__m"), b.alias("__b"))
                .agg(F.sum(yq).cast("long").alias("__t"))
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(batch_id, metric_correlation_from_totals(merge(state)))

    return per_batch


def stream_label_balance(
    *,
    state_path: str,
    label: str = "lang",
    min_share_alert: float = 0.01,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live class-balance monitor: the streaming twin of
    ``llm.text.label_balance`` — per-class counts are the perfectly
    additive state, and every micro-batch re-emits the full report
    (shares, below-min-share flags, entropy, normalized entropy, Gini)
    over everything ingested so far via the shared batch tail
    (``label_balance_from_counts``) — bit-equal to the batch report
    over the union.  The live form of the training-mix QA: a crawl
    whose language mix starts collapsing alarms within a micro-batch,
    not at the next offline audit.  State is O(classes) counts on the
    replay-idempotent :class:`.statestore.PartialStateTable`
    discipline.  Returns the ``foreachBatch`` callable.
    """
    from ..llm.text import label_balance_from_counts
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("label").agg(F.sum("n").cast("long").alias("n"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(label).isNotNull())
                .groupBy(F.col(label).alias("label"))
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(
                batch_id,
                label_balance_from_counts(
                    merge(state), min_share_alert=min_share_alert
                ),
            )

    return per_batch


def stream_ks(
    *,
    state_path: str,
    ref_counts: dict[int, int],
    value: str = "value",
    bucket_width: int = 64,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live two-sample Kolmogorov-Smirnov drift: the streaming sibling
    of :func:`stream_psi` sharing its frozen-reference contract — the
    accumulating live distribution (per-value counts, perfectly
    additive state) against a frozen reference, through the EXACT
    integer ECDF comparison of ``llm.text.split_drift_ks``
    (``ks_from_counts``): where PSI charges every reshaped bin, KS
    reports the single worst gap and its location (``at_value``) — the
    two alarms catch different drift shapes, so a live gate runs both
    off the same state discipline.

    ``ref_counts`` is ``{value: n}`` from the reference corpus.  State
    is O(distinct values) counts on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline.
    ``on_result(batch_id, DataFrame)`` receives the batch operator's
    one-row ``n_a (live), n_b (ref), ks_stat, at_value``.  Returns the
    ``foreachBatch`` callable.
    """
    from ..llm.text import ks_from_counts
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("v").agg(F.sum("__c").cast("long").alias("__c"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(value).isNotNull())
                # floor, not cast: cast truncates toward zero, merging
                # negative and positive fractional mass into bin 0 and
                # corrupting the ECDF support for continuous streams
                .groupBy(F.floor(F.col(value)).cast("long").alias("v"))
                .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            )
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        live = merge(state)
        ref = spark.createDataFrame(
            [(int(k), int(v)) for k, v in ref_counts.items()] or [(0, 0)],
            "v long, cb long",
        )
        counts = (
            live.select("v", F.col("__c").alias("ca"))
            .join(F.broadcast(ref), "v", "full_outer")
            .select(
                "v",
                F.coalesce(F.col("ca"), F.lit(0)).cast("long").alias("ca"),
                F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cb"),
            )
        )
        if on_result is not None:
            on_result(batch_id, ks_from_counts(counts, bucket_width=bucket_width))

    return per_batch


def stream_funnel(
    *,
    state_path: str,
    steps: tuple[str, ...],
    ts: str = "ts",
    user: str = "user_id",
    event_type: str = "event_type",
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live conversion funnel: the streaming twin of
    ``operators.analytics.funnel_steps`` — state is the per-(step, user)
    frontier min-timestamp, merged by MIN (the frontier only ever
    tightens), and every micro-batch re-emits the full report through
    the shared batch tail (``funnel_report_from_counts``), equal to the
    batch funnel over everything ingested so far.

    Each batch advances the frontiers IN STEP ORDER: step i candidates
    are the batch's step-i events strictly after the user's CURRENT
    step-(i-1) frontier (old state merged with this batch's own step-
    (i-1) update, so a user who completes several steps inside one
    micro-batch converts immediately).  Under in-timestamp-order
    delivery this reproduces the batch first-touch semantics exactly
    (test-pinned, replay + restart included); an out-of-order step-i
    event arriving AFTER a later step's frontier was already evaluated
    cannot retroactively create conversions — the same bounded-lateness
    posture as every watermarked pipeline here (module doc), and the
    divergence is conservative (never over-counts) and OBSERVABLE, not
    silent: state carries a per-user high-water event ts (sentinel
    ``__step = -1`` rows, max-merge) and an additive counter of rows
    that arrived below it (``__step = -2``); when positive, the report
    gains a ``(step_index=-1, step_name='__late_rows', n_users=count)``
    row — a clean in-order run emits no such row, keeping the report
    exactly batch-equal.

    State is O(steps x users) rows on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline (a replayed batch
    recomputes the same deterministic partial and overwrites its own
    partition).  Returns the ``foreachBatch`` callable.
    """
    from ..operators.analytics import funnel_report_from_counts
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)
    step_list = list(steps)

    def _ensure_n(df: DataFrame) -> DataFrame:
        # round-8 state tables predate the __n counter column — a
        # restart over one must resume, not fail analysis (the sentinel
        # rows it would carry simply don't exist yet)
        if "__n" not in df.columns:
            df = df.withColumn("__n", F.lit(None).cast("long"))
        return df

    def merge(df: DataFrame) -> DataFrame:
        # frontiers (step >= 0) tighten by MIN; the per-user high-water
        # sentinel (-1) advances by MAX; the late counter (-2) sums
        return (
            _ensure_n(df)
            .groupBy("__step", "__u")
            .agg(
                F.min("__ft").alias("__mn"),
                F.max("__ft").alias("__mx"),
                F.sum("__n").cast("long").alias("__n"),
            )
            .select(
                "__step",
                "__u",
                F.when(F.col("__step") == -1, F.col("__mx"))
                .otherwise(F.col("__mn"))
                .alias("__ft"),
                "__n",
            )
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # hold a replayed batch's own partition out of the fold so the
            # prior read below can exclude it (MIN-merge would absorb it
            # anyway, but identical-prior replay is the stronger contract)
            st.compact(spark, transform=merge, exclude_batch=batch_id)
        prior = st.read(spark, exclude_batch=batch_id)
        if not batch_df.isEmpty():
            if prior is not None:
                # materialize: the per-step partial derived from prior is
                # written back (dynamic overwrite) to the path prior
                # scans; also read once instead of once per funnel step
                prior = prior.localCheckpoint()
            partials = []
            prev_f: DataFrame | None = None
            for i, step in enumerate(step_list):
                old_i = (
                    merge(prior.filter(F.col("__step") == i)).select("__u", "__ft")
                    if prior is not None
                    else None
                )
                ev = batch_df.filter(F.col(event_type) == step).select(
                    F.col(user).alias("__u"), F.col(ts).alias("__t")
                )
                if i == 0:
                    cand = ev.groupBy("__u").agg(F.min("__t").alias("__ft"))
                else:
                    cand = (
                        ev.join(prev_f.select("__u", F.col("__ft").alias("__prev")), "__u")
                        .filter(F.col("__t") > F.col("__prev"))
                        .groupBy("__u")
                        .agg(F.min("__t").alias("__ft"))
                    )
                new_f = (
                    cand
                    if old_i is None
                    else cand.unionByName(old_i)
                    .groupBy("__u")
                    .agg(F.min("__ft").alias("__ft"))
                )
                partials.append(
                    cand.select(
                        F.lit(i).alias("__step"),
                        "__u",
                        "__ft",
                        F.lit(None).cast("long").alias("__n"),
                    )
                )
                prev_f = new_f
            # in-order contract observability: per-user high-water event
            # ts (sentinel step -1, max-merge) and a counter of rows that
            # arrived below the carried mark (sentinel step -2, sum-merge)
            consumed = batch_df.filter(F.col(event_type).isin(*step_list)).select(
                F.col(user).alias("__u"), F.col(ts).alias("__t")
            )
            partials.append(
                consumed.groupBy("__u")
                .agg(F.max("__t").alias("__ft"))
                .select(
                    F.lit(-1).alias("__step"),
                    "__u",
                    "__ft",
                    F.lit(None).cast("long").alias("__n"),
                )
            )
            if prior is not None:
                prior_max = merge(prior.filter(F.col("__step") == -1)).select(
                    "__u", F.col("__ft").alias("__pmax")
                )
                partials.append(
                    consumed.join(prior_max, "__u")
                    .filter(F.col("__t") < F.col("__pmax"))
                    .groupBy(F.lit(-2).alias("__step"))
                    .agg(F.count(F.lit(1)).cast("long").alias("__n"))
                    .select(
                        "__step",
                        F.lit(None).cast("string").alias("__u"),
                        F.lit(None).cast("timestamp").alias("__ft"),
                        "__n",
                    )
                )
            partial = partials[0]
            for p in partials[1:]:
                partial = partial.unionByName(p)
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        folded = merge(state)
        frontiers = folded.filter(F.col("__step") >= 0)
        spine = batch_df.sparkSession.createDataFrame(
            [(i + 1, s) for i, s in enumerate(step_list)],
            "step_index int, step_name string",
        )
        counts = (
            frontiers.groupBy((F.col("__step") + 1).alias("step_index"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .join(F.broadcast(spine), "step_index", "right")
            .select(
                "step_index",
                "step_name",
                F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
            )
        )
        if on_result is not None:
            report = funnel_report_from_counts(counts)
            # appended AFTER the shared tail so the conversion self-join
            # never sees the sentinel; absent entirely on in-order runs
            late_report = folded.filter(
                (F.col("__step") == -2) & (F.col("__n") > 0)
            ).select(
                F.lit(-1).alias("step_index"),
                F.lit("__late_rows").alias("step_name"),
                F.col("__n").cast("long").alias("n_users"),
                F.lit(None).cast("double").alias("conversion"),
            )
            on_result(batch_id, report.unionByName(late_report))

    return per_batch


def stream_dau_mau(
    *,
    state_path: str,
    ts: str = "ts",
    user: str = "user_id",
    window_days: int = 30,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live stickiness (DAU/MAU): the streaming twin of
    ``operators.analytics.dau_mau`` — state is the deduped (user,
    epoch-day) pair set, merged by DISTINCT (idempotent under replay AND
    insensitive to arrival order, so this twin equals the batch report
    over the union unconditionally — no in-order caveat).  Every
    micro-batch re-emits the full report via the shared batch tail
    (``dau_mau_from_user_days``).

    State is O(active users x observed days) rows — the same bound the
    batch operator's first dedup produces — on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline.  Returns the
    ``foreachBatch`` callable.
    """
    from ..operators.analytics import dau_mau_from_user_days
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.distinct()

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            day = F.floor(F.unix_seconds(F.col(ts)) / 86400).cast("long")
            st.append(
                batch_df.select(F.col(user).alias("__u"), day.alias("__d")).distinct(),
                batch_id,
            )
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(
                batch_id,
                dau_mau_from_user_days(merge(state), window_days=window_days),
            )

    return per_batch


def stream_assoc_rules(
    *,
    state_path: str,
    ts: str = "ts",
    user: str = "user_id",
    item: str = "event_type",
    window_seconds: int = 1800,
    min_pair_count: int = 2,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live association rules: the streaming twin of
    ``operators.analytics.assoc_rules`` — the last registry family
    without a live form (VERDICT r08 task 9).

    State is the deduped ``(user, window, item)`` basket-triple set,
    merged by DISTINCT — the :func:`stream_dau_mau` recipe — which is
    the CORRECT decomposition here rather than additive per-pair
    counts: a basket (fixed ``window_seconds`` window of one user) can
    receive items across several micro-batches, so pair counts are not
    finalizable per batch, but the triple set is order-insensitive and
    replay-idempotent, making the twin equal the batch report over the
    union UNCONDITIONALLY (no in-order caveat).  Every micro-batch
    re-emits the full report via the shared batch tail
    (``assoc_rules_from_baskets``): support/confidence/lift with the
    same exact-integer counts and pinned double expressions.

    State is O(distinct (user, window, item)) rows — span-bounded, the
    same working set the batch operator's first dedup produces; the
    per-batch snapshot re-runs the basket-keyed pair self-join over the
    merged state (sum(basket_size^2), capped by the item-type
    cardinality squared per basket — the stream itself is never
    re-shuffled).  Returns the ``foreachBatch`` callable.
    """
    from ..operators.analytics import assoc_baskets, assoc_rules_from_baskets
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.distinct()

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            st.append(
                assoc_baskets(
                    batch_df, ts=ts, user=user, item=item,
                    window_seconds=window_seconds,
                ),
                batch_id,
            )
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(
                batch_id,
                assoc_rules_from_baskets(
                    merge(state), min_pair_count=min_pair_count
                ),
            )

    return per_batch


def _edge_boundaries(edges: DataFrame, *, keys, last_col: str, out_prev: str) -> DataFrame:
    """Consecutive-edge derivation shared by the edge-row twins
    (:func:`stream_interarrival`, :func:`stream_event_transitions`):
    per-key lag of the previous edge's ``last_col`` over the batch
    sequence (``__seq``); rows without a predecessor drop out.  The
    replay/watermark argument for the pattern lives HERE once: edge
    rows are deterministic functions of their own batch, so the lag
    over (key, __seq) reconstructs every cross-batch adjacency
    regardless of replays — a replayed batch overwrites its own
    partition and re-derives the identical row."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("__seq")
    return edges.withColumn(out_prev, F.lag(last_col).over(w)).filter(
        F.col(out_prev).isNotNull()
    )


def _newest_edges(edges: DataFrame, *, keys) -> DataFrame:
    """Compaction half of the edge-row discipline: keep only each key's
    highest-``__seq`` edge (every older adjacency has been folded into
    the additive state by the caller)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col("__seq").desc())
    return (
        edges.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_interarrival(
    *,
    state_path: str,
    ts: str = "ts",
    keys: tuple[str, ...] = ("metric",),
    tiebreak: tuple[str, ...] = (),
    bin_width: float = 1.0,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live inter-arrival gap quantiles: the streaming twin of the
    ``interarrival_quantiles`` heartbeat-SLO query — the gap
    distribution ``active_channels``' inactivity cutoff should be SET
    from, measured continuously (the reference's liveness loop,
    trend-o-meter:470-479).

    State per batch, all deterministic functions of the batch alone
    (so replay overwrites reproduce themselves bit-for-bit):

    * ``kind='b'`` rows — the batch's WITHIN-batch gap histogram
      (``operators.histogram`` sketch, per-key);
    * one ``kind='e'`` row per key — the batch's first/last event
      micro-timestamps, tagged with the batch sequence.

    The cross-batch boundary gaps are derived AT READ TIME from
    consecutive edge rows (a per-key lag over O(batches) edge rows —
    never over events), so no partial ever depends on prior state.
    Compaction folds resolved boundary gaps into the histogram and
    keeps only each key's newest edge.  Quantile estimates come from
    the keyed integer-rank estimator
    (``histogram_quantiles_keyed``) and sit within ``bin_width`` of the
    exact batch quantile (the sketch's hard guarantee, test-pinned with
    replay + restart).  Assumes in-timestamp-order delivery across
    batches (the module-doc watermark posture); within a batch, order
    is (ts, *tiebreak) like the batch query.  Returns the
    ``foreachBatch`` callable.
    """
    from pyspark.sql import Window

    from ..operators.histogram import histogram_quantiles_keyed
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)
    kcols = list(keys)
    wname = float(bin_width)

    def _fold(df: DataFrame, *, keep_edges: bool) -> DataFrame:
        hist = (
            df.filter(F.col("__kind") == "b")
            .groupBy(*kcols, "__bin")
            .agg(F.sum("__cnt").cast("long").alias("__cnt"))
            .select(*kcols, F.lit("b").alias("__kind"), "__bin", "__cnt",
                    F.lit(None).cast("long").alias("__seq"),
                    F.lit(None).cast("long").alias("__first_us"),
                    F.lit(None).cast("long").alias("__last_us"))
        )
        edges = df.filter(F.col("__kind") == "e")
        boundary = (
            _edge_boundaries(edges, keys=kcols, last_col="__last_us", out_prev="__prev_last")
            .select(
                *kcols,
                F.lit("b").alias("__kind"),
                F.floor(
                    ((F.col("__first_us") - F.col("__prev_last")).cast("double") / F.lit(1e6))
                    / F.lit(wname)
                ).cast("long").alias("__bin"),
                F.lit(1).cast("long").alias("__cnt"),
                F.lit(None).cast("long").alias("__seq"),
                F.lit(None).cast("long").alias("__first_us"),
                F.lit(None).cast("long").alias("__last_us"),
            )
        )
        folded = (
            hist.unionByName(boundary)
            .groupBy(*kcols, "__kind", "__bin")
            .agg(F.sum("__cnt").cast("long").alias("__cnt"))
            .select(*kcols, "__kind", "__bin", "__cnt",
                    F.lit(None).cast("long").alias("__seq"),
                    F.lit(None).cast("long").alias("__first_us"),
                    F.lit(None).cast("long").alias("__last_us"))
        )
        if not keep_edges:
            return folded
        return folded.unionByName(_newest_edges(edges, keys=kcols))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=lambda df: _fold(df, keep_edges=True))
        if not batch_df.isEmpty():
            us = F.unix_micros(F.col(ts))
            rows = batch_df.select(*kcols, us.alias("__us"), *tiebreak)
            in_w = Window.partitionBy(*kcols).orderBy("__us", *tiebreak)
            gaps = rows.select(
                *kcols,
                ((F.col("__us") - F.lag("__us").over(in_w)).cast("double") / F.lit(1e6)).alias(
                    "__gap"
                ),
            ).filter(F.col("__gap").isNotNull())
            hist = (
                gaps.groupBy(
                    *kcols,
                    F.floor(F.col("__gap") / F.lit(wname)).cast("long").alias("__bin"),
                )
                .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
                .select(*kcols, F.lit("b").alias("__kind"), "__bin", "__cnt",
                        F.lit(None).cast("long").alias("__seq"),
                        F.lit(None).cast("long").alias("__first_us"),
                        F.lit(None).cast("long").alias("__last_us"))
            )
            edges = rows.groupBy(*kcols).agg(
                F.min("__us").alias("__first_us"), F.max("__us").alias("__last_us")
            ).select(
                *kcols,
                F.lit("e").alias("__kind"),
                F.lit(None).cast("long").alias("__bin"),
                F.lit(None).cast("long").alias("__cnt"),
                F.lit(int(batch_id)).alias("__seq"),
                "__first_us",
                "__last_us",
            )
            st.append(hist.unionByName(edges), batch_id)
        state = st.read(spark)
        if state is None:
            return
        sketch = (
            _fold(state, keep_edges=False)
            .select(*kcols, F.col("__bin").alias("bin"), F.col("__cnt").alias("cnt"))
        )
        if on_result is not None:
            on_result(
                batch_id,
                histogram_quantiles_keyed(
                    sketch, keys=kcols, qs=list(qs), bin_width=wname
                ),
            )

    return per_batch


def stream_cohort_retention(
    *,
    state_path: str,
    ts: str = "ts",
    user: str = "user_id",
    max_offset_days: int = 30,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live retention triangle: the streaming twin of
    ``operators.analytics.cohort_retention`` — the deduped (user,
    epoch-day) pair set is the ONE sufficient state (cohorts are a MIN
    over the same set the actives come from), merged by DISTINCT, so
    like :func:`stream_dau_mau` this twin is order-insensitive AND
    replay-idempotent: equal to the batch triangle over the union
    unconditionally, re-emitted every micro-batch via the shared batch
    tail (``cohort_retention_from_user_days``).  A late event that
    back-dates a user's first-seen day RE-COHORTS them exactly as the
    batch operator would.  State is O(active users x observed days) on
    the :class:`.statestore.PartialStateTable` discipline.  Returns the
    ``foreachBatch`` callable.
    """
    from ..operators.analytics import cohort_retention_from_user_days
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.distinct()

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            day = F.floor(F.unix_seconds(F.col(ts)) / 86400).cast("long")
            st.append(
                batch_df.select(F.col(user).alias("__u"), day.alias("__d")).distinct(),
                batch_id,
            )
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(
                batch_id,
                cohort_retention_from_user_days(
                    merge(state), max_offset_days=max_offset_days
                ),
            )

    return per_batch


def stream_ab_lift(
    *,
    state_path: str,
    user: str = "user_id",
    event_type: str = "event_type",
    conversion_type: str = "purchase",
    salt: str = "exp-v1",
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live A/B readout: the streaming twin of
    ``operators.analytics.ab_lift`` — state is two DISTINCT user sets
    (everyone seen / everyone converted), tagged rows merged by
    DISTINCT, so like :func:`stream_dau_mau` the twin is
    order-insensitive AND replay-idempotent: equal to the batch readout
    over the union unconditionally.  Arm assignment is a pure function
    of the salted user id (never ``rand()``), so it costs no state.
    Every micro-batch re-emits the full report via the shared batch
    tail (``ab_lift_from_user_sets``) — the live form of the
    experiment dashboard.  State is O(users) rows on the
    :class:`.statestore.PartialStateTable` discipline.  Returns the
    ``foreachBatch`` callable.
    """
    from ..operators.analytics import ab_lift_from_user_sets
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.distinct()

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            seen = batch_df.select(
                F.col(user).alias("__u"), F.lit("u").alias("__kind")
            ).distinct()
            conv = (
                batch_df.filter(F.col(event_type) == conversion_type)
                .select(F.col(user).alias("__u"), F.lit("c").alias("__kind"))
                .distinct()
            )
            st.append(seen.unionByName(conv), batch_id)
        state = st.read(spark)
        if state is None:
            return
        live = merge(state)
        if on_result is not None:
            on_result(
                batch_id,
                ab_lift_from_user_sets(
                    live.filter(F.col("__kind") == "u").select("__u"),
                    live.filter(F.col("__kind") == "c").select("__u"),
                    salt=salt,
                ),
            )

    return per_batch


def stream_event_transitions(
    *,
    state_path: str,
    ts: str = "ts",
    user: str = "user_id",
    event_type: str = "event_type",
    tiebreak: tuple[str, ...] = (),
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live first-order Markov transition counts: the streaming twin of
    ``operators.analytics.event_transitions``, EXACT (not an estimate)
    under in-timestamp-order delivery — the same edge-row discipline as
    :func:`stream_interarrival` applied to event-type bigrams:

    * additive (from_type, to_type) counts of each batch's WITHIN-batch
      consecutive pairs per user ((ts, *tiebreak)-ordered);
    * one edge row per (user, batch) carrying the user's first and last
      event type in the batch, tagged with the batch sequence.

    The boundary pair a user's batch-spanning consecutive events form
    (last of batch k, first of their next-seen batch) is derived AT
    READ TIME from consecutive edge rows — a per-user lag over
    O(batches) edge rows — so every partial is a deterministic function
    of its batch alone (replay overwrites reproduce themselves).
    Compaction folds resolved boundary pairs into the counts and keeps
    only each user's newest edge.  State is O(types^2 + users) between
    compactions.  Returns the ``foreachBatch`` callable.
    """
    from pyspark.sql import Window

    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def _fold(df: DataFrame, *, keep_edges: bool) -> DataFrame:
        counts = (
            df.filter(F.col("__kind") == "n")
            .groupBy("from_type", "to_type")
            .agg(F.sum("__n").cast("long").alias("__n"))
        )
        edges = df.filter(F.col("__kind") == "e")
        boundary = (
            _edge_boundaries(edges, keys=["__u"], last_col="__last_t", out_prev="__prev_last")
            .groupBy(
                F.col("__prev_last").alias("from_type"),
                F.col("__first_t").alias("to_type"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        )
        folded = (
            counts.unionByName(boundary)
            .groupBy("from_type", "to_type")
            .agg(F.sum("__n").cast("long").alias("__n"))
            .select(
                F.lit("n").alias("__kind"),
                "from_type",
                "to_type",
                "__n",
                F.lit(None).cast("string").alias("__u"),
                F.lit(None).cast("long").alias("__seq"),
                F.lit(None).cast("string").alias("__first_t"),
                F.lit(None).cast("string").alias("__last_t"),
            )
        )
        if not keep_edges:
            return folded
        return folded.unionByName(_newest_edges(edges, keys=["__u"]))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=lambda df: _fold(df, keep_edges=True))
        if not batch_df.isEmpty():
            w = Window.partitionBy(user).orderBy(ts, *tiebreak)
            rows = batch_df.select(
                F.col(user).alias("__u"),
                F.col(event_type).alias("__t"),
                F.lag(event_type).over(w).alias("__from"),
                F.struct(ts, *tiebreak).alias("__ord"),
            )
            counts = (
                rows.filter(F.col("__from").isNotNull())
                .groupBy(
                    F.col("__from").alias("from_type"), F.col("__t").alias("to_type")
                )
                .agg(F.count(F.lit(1)).cast("long").alias("__n"))
                .select(
                    F.lit("n").alias("__kind"),
                    "from_type",
                    "to_type",
                    "__n",
                    F.lit(None).cast("string").alias("__u"),
                    F.lit(None).cast("long").alias("__seq"),
                    F.lit(None).cast("string").alias("__first_t"),
                    F.lit(None).cast("string").alias("__last_t"),
                )
            )
            edges = (
                rows.groupBy("__u")
                .agg(
                    F.min_by("__t", "__ord").alias("__first_t"),
                    F.max_by("__t", "__ord").alias("__last_t"),
                )
                .select(
                    F.lit("e").alias("__kind"),
                    F.lit(None).cast("string").alias("from_type"),
                    F.lit(None).cast("string").alias("to_type"),
                    F.lit(None).cast("long").alias("__n"),
                    "__u",
                    F.lit(int(batch_id)).alias("__seq"),
                    "__first_t",
                    "__last_t",
                )
            )
            st.append(counts.unionByName(edges), batch_id)
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            on_result(
                batch_id,
                _fold(state, keep_edges=False).select(
                    "from_type", "to_type", F.col("__n").alias("n")
                ),
            )

    return per_batch


def stream_rfm(
    *,
    state_path: str,
    ts: str = "ts",
    user: str = "user_id",
    value: str = "value",
    event_type: str = "event_type",
    purchase_type: str = "purchase",
    compact_every: int = 25,
    score_every: int = 1,
    on_result: "object" = None,
):
    """Live RFM segmentation: the streaming twin of
    ``operators.analytics.rfm_segments`` — per-user (last-purchase
    epoch MAX, purchase-count SUM, exact-decimal monetary SUM) partials
    merge losslessly and order-insensitively, so the twin equals the
    batch report over the union unconditionally; every snapshot batch
    re-scores the population against freshly derived quintile
    breakpoints through the shared batch tail (``rfm_from_per_user`` —
    exact-rank quantiles, broadcast breakpoints, never ntile).

    ``score_every`` (snapshot cadence, default 1 = re-score every
    micro-batch): appending partials is O(batch), but the re-score is
    O(purchasing users) — at 10^9 users the per-batch re-derivation of
    global breakpoints dominates the twin's marginal cost (VERDICT r09
    watch item).  With ``score_every=N``, batches whose id is not a
    multiple of N only append state (no state read, no report); every
    N-th batch emits the full report, which is still EXACTLY the batch
    operator's answer over everything ingested so far — cadence trades
    report freshness, never report correctness.

    'Recency' here is the reference point the batch operator uses —
    the population's own purchase epochs scored against each other —
    so the twin needs no wall clock and stays deterministic.  State is
    O(purchasing users) rows on the replay-idempotent
    :class:`.statestore.PartialStateTable` discipline.  Returns the
    ``foreachBatch`` callable.
    """
    from ..operators.analytics import rfm_from_per_user
    from .statestore import PartialStateTable

    if int(score_every) < 1:
        raise ValueError(f"score_every must be >= 1, got {score_every}")
    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("__u").agg(
            F.max("__r_s").alias("__r_s"),
            F.sum("__n").cast("long").alias("__n"),
            F.sum("__md").cast("decimal(38,8)").alias("__md"),
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if not batch_df.isEmpty():
            partial = (
                batch_df.filter(F.col(event_type) == purchase_type)
                .groupBy(F.col(user).alias("__u"))
                .agg(
                    F.max(F.unix_seconds(F.col(ts))).alias("__r_s"),
                    F.count(F.lit(1)).cast("long").alias("__n"),
                    F.sum(F.col(value).cast("decimal(28,8)"))
                    .cast("decimal(38,8)")
                    .alias("__md"),
                )
            )
            st.append(partial, batch_id)
        if on_result is None or (score_every > 1 and batch_id % score_every != 0):
            return  # non-snapshot batch: append-only, no O(users) re-score
        state = st.read(spark)
        if state is None:
            return
        # cut_frames=False: the per-batch re-score runs over a small
        # materialized state frame; per-batch localCheckpoints leave RDD
        # blocks pinned until a JVM GC and measured ~1.7x the whole
        # re-score over a 20-batch replay (round 14; values identical)
        on_result(batch_id, rfm_from_per_user(merge(state), cut_frames=False))

    return per_batch


def stream_novelty(
    *,
    state_path: str,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live corpus-order novelty: the streaming twin of
    ``llm.dedup.ngram_novelty`` — novelty scoring over a document
    stream (the ingest-time curation gate: score each arriving doc
    against everything already ingested, without rescanning the
    corpus).

    State is one row per distinct gram: ``(s, min doc_id)`` partials
    merged by MIN — order-insensitive and replay-idempotent (a batch's
    partial is a deterministic function of the batch alone, so an
    at-least-once replay overwrites itself; no ``exclude_batch`` read
    needed).  Each micro-batch reports novelty rows for ITS OWN docs,
    scored against the merged state INCLUDING the batch's own grams —
    exactly the batch operator's first-occurrence rule restricted to
    those docs, so twin == batch over the union for every reported doc
    PROVIDED docs arrive in ``doc_id`` order (the first-occurrence rule
    is history: a late lower-id doc would rewrite already-reported
    docs' novelty — the same in-order posture as the funnel twin,
    documented here rather than silently wrong).

    State is O(distinct grams) rows — vocabulary-bounded, sub-linear in
    corpus size (gram reuse is the whole point of the signal).  The
    per-batch report's shuffle/agg work is O(batch grams): the state is
    semi-filtered by the batch's gram set (broadcast-semi — the
    vocabulary side is a scan+filter, never a vocabulary-wide shuffle)
    before the min-merge and the scoring join.  Returns the
    ``foreachBatch`` callable.
    """
    from .. import lineage
    from ..llm.dedup import shingle_rows
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("s").agg(F.min("__first").cast("long").alias("__first"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if batch_df.isEmpty():
            return
        # the batch's (doc, gram) pairs feed BOTH the state partial and
        # the report join — materialize once (tokenization is the
        # expensive leg)
        sh = lineage.cut(shingle_rows(batch_df, text=text, id_col=id_col, n=shingle_n))
        st.append(
            sh.groupBy("s").agg(F.min("id").cast("long").alias("__first")),
            batch_id,
        )
        if on_result is None:
            return
        state = st.read(spark)
        if state is None:
            return  # e.g. every doc so far shorter than shingle_n tokens
        # bound the report to O(batch grams): only the batch's own grams
        # can appear in its report join, so the vocabulary-sized state is
        # semi-filtered by the batch gram set FIRST (AQE broadcasts the
        # small batch side — the state leg is a scan+filter, not a
        # vocabulary-wide shuffle) and only the survivors are min-merged.
        batch_grams = sh.select("s").distinct()
        first = merge(state.join(batch_grams, "s", "left_semi"))
        from ..llm.dedup import score_novelty

        on_result(batch_id, score_novelty(sh, first, id_col=id_col))

    return per_batch


def stream_attribution(
    *,
    state_path: str,
    ts: str = "ts",
    user: str = "user_id",
    event_type: str = "event_type",
    value: str = "value",
    event_id: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live last-touch attribution: the streaming twin of
    ``operators.analytics.attribution_last_touch``, completing the
    analytics family's live coverage — the one member whose batch form
    is the as-of join gets its streaming form from the classic
    stream-to-state decomposition:

    * carried state, one row per user: the BEST touch so far
      ((ts, event_id)-max struct — the same tiebreak the batch as-of
      uses), merged by per-user max;
    * each micro-batch as-of joins its conversions against the UNION of
      its own touches and the carried best-touch rows (the batch
      :mod:`..operators.asof` operator itself, backward direction), so
      a conversion matches the latest touch at or before it whether
      that touch arrived in this batch or any earlier one;
    * attributed (touch_type, count, exact-decimal revenue) partials
      are ADDITIVE — the report is their keyed sum, emitted through the
      batch aggregate's exact expressions (decimal -> double once).

    Replay-idempotent: the prior is read with ``exclude_batch=batch_id``
    (and a compaction firing on the replayed batch holds that partition
    out of the fold), so a replay sees exactly the carried state the
    first attempt saw — WITHOUT the exclusion, state already containing
    the batch's own best-touch write would let a later same-batch touch
    displace an older carried touch in the per-user max, and a
    conversion preceding that touch would re-derive as 'unattributed'
    (test-pinned).  The re-derived identical partial then overwrites
    its own partition.  EXACT vs the batch operator under
    in-timestamp-order delivery (a conversion's touches never arrive
    after it — the watermark posture documented in the module);
    out-of-order touches divergently but conservatively land as
    'unattributed', and the divergence is OBSERVABLE, not silent: the
    state carries a per-user high-water event ts ('m' rows, max-merge)
    and an additive counter ('l') of rows that arrived below it; when
    positive, the report gains a '__late_rows' row (n_conversions =
    cumulative late rows, revenue NULL) — a clean in-order run emits no
    such row, keeping the report exactly batch-equal.
    State is O(users + touch_types) rows on the
    :class:`.statestore.PartialStateTable` discipline.  Returns the
    ``foreachBatch`` callable.
    """
    from ..operators import asof
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def _fold(df: DataFrame) -> DataFrame:
        attr = (
            df.filter(F.col("__kind") == "a")
            .groupBy("touch_type")
            .agg(
                F.sum("__n").cast("long").alias("__n"),
                F.sum("__rev").cast("decimal(38,8)").alias("__rev"),
            )
            .select(
                F.lit("a").alias("__kind"),
                "touch_type",
                "__n",
                "__rev",
                F.lit(None).cast("string").alias("__u"),
                F.lit(None).cast("timestamp").alias("__tts"),
                F.lit(None).cast("long").alias("__tid"),
            )
        )
        best = (
            df.filter(F.col("__kind") == "t")
            .groupBy("__u")
            .agg(
                F.max(
                    F.struct(F.col("__tts"), F.col("__tid"), F.col("touch_type"))
                ).alias("__b")
            )
            .select(
                F.lit("t").alias("__kind"),
                F.col("__b.touch_type").alias("touch_type"),
                F.lit(None).cast("long").alias("__n"),
                F.lit(None).cast("decimal(38,8)").alias("__rev"),
                "__u",
                F.col("__b.__tts").alias("__tts"),
                F.col("__b.__tid").alias("__tid"),
            )
        )
        # 'm': per-user high-water event ts (max-merge) — the in-order
        # contract's reference point; 'l': additive late-row counter
        maxts = (
            df.filter(F.col("__kind") == "m")
            .groupBy("__u")
            .agg(F.max("__tts").alias("__tts"))
            .select(
                F.lit("m").alias("__kind"),
                F.lit(None).cast("string").alias("touch_type"),
                F.lit(None).cast("long").alias("__n"),
                F.lit(None).cast("decimal(38,8)").alias("__rev"),
                "__u",
                "__tts",
                F.lit(None).cast("long").alias("__tid"),
            )
        )
        late = (
            df.filter(F.col("__kind") == "l")
            .groupBy("__kind")
            .agg(F.sum("__n").cast("long").alias("__n"))
            .select(
                "__kind",
                F.lit(None).cast("string").alias("touch_type"),
                "__n",
                F.lit(None).cast("decimal(38,8)").alias("__rev"),
                F.lit(None).cast("string").alias("__u"),
                F.lit(None).cast("timestamp").alias("__tts"),
                F.lit(None).cast("long").alias("__tid"),
            )
        )
        return attr.unionByName(best).unionByName(maxts).unionByName(late)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # hold this batch's own prior-attempt partition (if a replay)
            # out of the fold — once in the base, no read-side exclusion
            # could remove it and the replay would see a different prior
            st.compact(spark, transform=_fold, exclude_batch=batch_id)
        prior = st.read(spark, exclude_batch=batch_id)
        if not batch_df.isEmpty():
            conv = batch_df.filter(F.col(event_type) == conversion_type).select(
                F.col(user).alias("__u"), ts, value, event_id
            )
            touches = batch_df.filter(F.col(event_type).isin(*touch_types)).select(
                F.col(user).alias("__u"),
                F.col(ts).alias("__tts"),
                F.col(event_type).alias("touch_type"),
                F.col(event_id).cast("long").alias("__tid"),
            )
            consumed = touches.select("__u", F.col("__tts").alias("__t")).unionByName(
                conv.select("__u", F.col(ts).alias("__t"))
            )
            if prior is not None:
                # materialize: the partials derived from prior are written
                # back (dynamic overwrite) to the very path prior scans —
                # break the lineage so the write plan never reads it
                folded_prior = _fold(prior).localCheckpoint()
                carried = folded_prior.filter(F.col("__kind") == "t").select(
                    "__u", "__tts", "touch_type", "__tid"
                )
                candidates = touches.unionByName(carried)
                # in-order contract violation detector: rows older than
                # the user's carried high-water mark may have silently
                # diverged from the batch operator — count them
                prior_max = folded_prior.filter(F.col("__kind") == "m").select(
                    "__u", F.col("__tts").alias("__pmax")
                )
                late_partial = (
                    consumed.join(prior_max, "__u")
                    .filter(F.col("__t") < F.col("__pmax"))
                    .groupBy(F.lit("l").alias("__kind"))
                    .agg(F.count(F.lit(1)).cast("long").alias("__n"))
                    .select(
                        "__kind",
                        F.lit(None).cast("string").alias("touch_type"),
                        "__n",
                        F.lit(None).cast("decimal(38,8)").alias("__rev"),
                        F.lit(None).cast("string").alias("__u"),
                        F.lit(None).cast("timestamp").alias("__tts"),
                        F.lit(None).cast("long").alias("__tid"),
                    )
                )
            else:
                candidates = touches
                late_partial = None
            j = asof.asof_join(
                conv,
                candidates,
                left_on=ts,
                right_on="__tts",
                by_left="__u",
                by_right="__u",
                right_cols=("touch_type",),
                tiebreak="__tid",
                direction="backward",
            )
            attributed = (
                j.groupBy(
                    F.coalesce(F.col("touch_type"), F.lit("unattributed")).alias(
                        "touch_type"
                    )
                )
                .agg(
                    F.count(F.lit(1)).cast("long").alias("__n"),
                    F.sum(F.col(value).cast("decimal(28,8)"))
                    .cast("decimal(38,8)")
                    .alias("__rev"),
                )
                .select(
                    F.lit("a").alias("__kind"),
                    "touch_type",
                    "__n",
                    "__rev",
                    F.lit(None).cast("string").alias("__u"),
                    F.lit(None).cast("timestamp").alias("__tts"),
                    F.lit(None).cast("long").alias("__tid"),
                )
            )
            best_in_batch = (
                touches.groupBy("__u")
                .agg(
                    F.max(
                        F.struct(F.col("__tts"), F.col("__tid"), F.col("touch_type"))
                    ).alias("__b")
                )
                .select(
                    F.lit("t").alias("__kind"),
                    F.col("__b.touch_type").alias("touch_type"),
                    F.lit(None).cast("long").alias("__n"),
                    F.lit(None).cast("decimal(38,8)").alias("__rev"),
                    "__u",
                    F.col("__b.__tts").alias("__tts"),
                    F.col("__b.__tid").alias("__tid"),
                )
            )
            maxts_in_batch = (
                consumed.groupBy("__u")
                .agg(F.max("__t").alias("__tts"))
                .select(
                    F.lit("m").alias("__kind"),
                    F.lit(None).cast("string").alias("touch_type"),
                    F.lit(None).cast("long").alias("__n"),
                    F.lit(None).cast("decimal(38,8)").alias("__rev"),
                    "__u",
                    "__tts",
                    F.lit(None).cast("long").alias("__tid"),
                )
            )
            partial = attributed.unionByName(best_in_batch).unionByName(maxts_in_batch)
            if late_partial is not None:
                partial = partial.unionByName(late_partial)
            st.append(partial, batch_id)
        state = st.read(spark)
        if state is None:
            return
        if on_result is not None:
            folded = _fold(state)
            report = folded.filter(F.col("__kind") == "a").select(
                "touch_type",
                F.col("__n").alias("n_conversions"),
                F.col("__rev").cast("double").alias("revenue"),
            )
            # divergence made observable: any rows that violated the
            # in-order delivery contract surface as a '__late_rows' row
            # (absent on a clean run, so the report stays batch-equal)
            late_report = folded.filter(
                (F.col("__kind") == "l") & (F.col("__n") > 0)
            ).select(
                F.lit("__late_rows").alias("touch_type"),
                F.col("__n").alias("n_conversions"),
                F.lit(None).cast("double").alias("revenue"),
            )
            on_result(batch_id, report.unionByName(late_report))

    return per_batch


def stream_url_dedup(
    *,
    state_path: str,
    id_col: str = "doc_id",
    source: str = "source",
    compact_every: int = 25,
    on_result: "object" = None,
):
    """Live URL-level dedup: the streaming twin of the ``url_dedup``
    registry query — the crawl-frontier gate applied at ingest time
    (canonicalize the arriving document's URL, keep it only if no
    earlier document already claimed that canonical URL).

    State is one row per distinct CANONICAL url: ``(url, min doc_id)``
    partials merged by MIN — order-insensitive and replay-idempotent (a
    batch's partial is a deterministic function of the batch alone, so
    an at-least-once replay overwrites itself; no ``exclude_batch``
    read needed — the same discipline as :func:`stream_novelty`).  Each
    micro-batch reports ``(doc_id, url, keep)`` for ITS OWN docs,
    decided against the merged state INCLUDING the batch's own urls —
    exactly the batch operator's min-id rule restricted to those docs,
    so twin == batch over the union PROVIDED docs arrive in ``doc_id``
    order (a late lower-id doc would re-assign survivors already
    reported; the same documented in-order posture as the novelty and
    funnel twins).

    Scale: state is O(distinct canonical urls).  The per-batch report
    is O(batch): the state side is semi-filtered by the batch's url set
    before the min-merge and the decision join (AQE broadcasts the
    small batch side), never a state-wide shuffle.  Returns the
    ``foreachBatch`` callable.
    """
    from .. import lineage
    from ..llm.urls import canonicalize_url, synthesize_raw_url
    from .statestore import PartialStateTable

    st = PartialStateTable(state_path)

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("url").agg(F.min("__min").cast("long").alias("__min"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=merge)
        if batch_df.isEmpty():
            return
        d = F.col(id_col)
        canon = lineage.cut(
            batch_df.select(
                d.alias("doc_id"),
                canonicalize_url(synthesize_raw_url(d, F.col(source))).alias("url"),
            )
        )
        st.append(
            canon.groupBy("url").agg(F.min("doc_id").cast("long").alias("__min")),
            batch_id,
        )
        if on_result is None:
            return
        state = st.read(spark)
        if state is None:
            return
        batch_urls = canon.select("url").distinct()
        owner = merge(state.join(batch_urls, "url", "left_semi"))
        on_result(
            batch_id,
            canon.join(owner, "url").select(
                "doc_id", "url", (F.col("doc_id") == F.col("__min")).alias("keep")
            ),
        )

    return per_batch
