"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is forced end-to-end with the ``noop`` sink (full evaluation,
no driver collect, no column-pruning shortcut a bare count() would take).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from trend_o_meter_spark.session import get_spark, scratch_dir
from trend_o_meter_spark.workload import registry


def _tmpdir():
    """Probe scratch (stream source staging, checkpoints, state dirs) on
    the same memory-backed medium as Spark's local dirs (session.scratch_dir
    — env-overridable, None -> stock tempfile default).  On the round-13
    sandbox the default /tmp disk sustains ~10 MB/s fsync'd writes, so
    stock-placed state-store commits measured the DISK (stream_anchored
    first pass 39.6 s vs r12's 3.0 s with identical code and a clean CPU
    calibration); the operators' own cost is what the probes exist to
    record.  The `calib.disk` kernel stamps the default medium's rate in
    the artifact either way, so slow-disk rounds stay adjudicable."""
    import tempfile

    return tempfile.TemporaryDirectory(dir=scratch_dir())

# Headline set: the flagship timeseries query, the relational suite's
# heavy hitters, and the LLM-pipeline operators that dominate at scale.
HEADLINE = (
    "flagship_day_bins",
    "downsample_60s",
    "sliding_rates_10s",
    "sessionize_30m",
    "asof_join_orders",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_rank",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "cosine_topk_ivf",
    "embedding_near_dup",
    "multimodal_meta",
    "frame_sample",
    "text_stats",
    "label_centroids",
    # round-3 additions: the round-2 operator families now tracked
    # round-over-round (baselines recorded in BASELINE.md the same session)
    "q18_large_volume_orders",
    "bm25_search",
    "tfidf_cosine_pairs",
    "dedup_clusters",
    "kmeans_centroids",
    "trending_daily",
    "cms_heavy_hitters",
    # round-3 operator families
    "dup_span_stats",
    "cooc_pmi_topk",
    "pq_adc_topk",
    # round-4 operator families
    "semantic_dedup",
    "dsir_weights",
    "dup_span_removal",
    "q21_waiting_suppliers",
    # round-4 second widening: heaviest of the TPC-H completion batch
    # (8-table join; per-part min decorrelation + join-back), the WAV
    # codec round-trip, and the moments sketch
    "q8_market_share",
    "q2_min_cost_supplier",
    "audio_features",
    "moments_by_type",
    # round-4 continuation: iterative/graph + classifier + set-algebra
    # sketch + direction-complete asof + VARIANT path
    "pagerank_docs",
    "logreg_lang_weights",
    "kmv_user_overlap",
    "asof_nearest_orders",
    "variant_extract_props",
    # round-5 operator families: Bloom membership (sixth sketch family)
    # and the exact character-level ExactSubstr
    "bloom_membership",
    "exact_substr_spans",
    # round-5 second widening: cross-corpus span decontamination, the
    # hashed sparse classifier, Kneser-Ney LM, HITS, temperature mixing
    "decontaminate_spans",
    "logreg_hashed_weights",
    "lm_kn_score",
    "hits_docs",
    "temperature_mixture",
    # round-5 third widening: quality rules + the two search/fingerprint
    # operators (all map-side; tracks the staged-HOF-projection fix)
    "gopher_rules",
    "winnowing_fingerprints",
    "phrase_search",
    # round-6 operator families: the exact-rank quantile rewires (tracks
    # the value-multiset-buffer fix round-over-round), the histogram
    # median/MAD estimator behind stream_mad, the PNG codec round-trip,
    # and the monitoring/drift/calibration additions
    "mad_anomalies",
    "rfm_segments",
    "hist_median_mad",
    "image_features",
    "cusum_shifts",
    "holt_winters_hourly",
    "split_drift_psi",
    "calibration_ece",
    # round-8: the bucketed-window interarrival rewrite, tracked
    # round-over-round (first quiet entry 2.93 s median, BASELINE.md)
    "interarrival_quantiles",
    # round-9: the perceptual-hash image-dedup family (decode + integer
    # DCT inside mapInPandas + the banded pair join), tracked
    # round-over-round (first quiet entry in BASELINE.md)
    "image_phash_pairs",
    # round-10: the third real-codec modality — AVI synthesize + decode
    # round-trip per video row (first quiet entry in BASELINE.md)
    "video_frame_features",
    # round-10 late additions: the three new families (weighted
    # sampling, adaptive quantile sketch incl. its exact-rank audit
    # scan, HTML boilerplate extraction) — first quiet entries in
    # BASELINE.md the same session
    "priority_sample",
    "tdigest_quantiles",
    "html_extract",
    "warc_extract",
    "robots_filter",
    "url_canonical",
    "hard_negatives",
    # round-12: the IVF scale path for hard-negative mining, the
    # unigram-LM tokenizer trainer, and the now-oracle-checked BPE
    # trainer verdict row (first quiet entries in BASELINE.md the same
    # session).  langid_scores is deliberately NOT here: ~22 s median,
    # all driver-side GD-loop round-trips (5 heads x 2 iters), which
    # would swamp the suite signal — it stays a correctness-only query.
    "hard_negatives_ivf",
    "unigram_vocab",
    "bpe_merges",
    "pack_sequences_global",
    # round-13: the langid family's bench row — the scoring pass with
    # pinned pretrained heads (one literal-weight aggregation pass; the
    # ~22 s driver-GD trainer stays correctness-only, documented above)
    # — plus the two new tokenizer operators: corpus-wide unigram
    # Viterbi encode and the byte-level BPE trainer verdict row
    "langid_scores_pretrained",
    "unigram_encode_fixed",
    "byte_bpe_merges",
    "byte_bpe_encode_fixed",
    "rrf_hybrid_search",
)


def stream_probe(
    spark, sf_dir: str, min_rows: int = 500_000, n_timed: int = 3
) -> dict:
    """Streaming throughput probe: rows/sec through the stateful anchored
    downsample (the custom applyInPandasWithState operator — the slowest
    streaming path we ship), availableNow trigger, noop sink.

    Noise-robust shape (VERDICT r10 task 1 — the r10 driver run's
    marginal pass came out SLOWER than its cold pass under loadavg 3-8,
    so one-pass numbers were ambient noise, not evidence):

    * **>= ``min_rows`` driven per pass** — the events table is
      replicated with suffixed metric names until the row count clears
      the floor, so fixed costs (worker spin-up, stream start, file
      listing) amortize instead of dominating the 100k-row original.
      Suffixing the metric also lifts the stateful walk from the
      table's 5 distinct keys to 5*k parallel groups — the actual
      production shape (many metrics), and the only way 32 cores can
      all run the per-key walk.
    * **median marginal of ``n_timed`` passes** after one untimed-cold
      pass (fresh checkpoint each), so a single co-tenant spike cannot
      set the recorded number.
    * **per-pass loadavg stamps** inline, so any residual swing is
      adjudicable from the artifact itself.
    """
    import statistics
    import tempfile

    from trend_o_meter_spark.catalog import table as cat_table
    from trend_o_meter_spark.streaming.stateful import stream_anchored_downsample

    base = cat_table(spark, "events", sf_dir).select(
        "ts", F.col("event_type").alias("metric"), "value"
    )
    n_base = base.count()
    k = max(1, -(-min_rows // max(n_base, 1)))
    batch = base
    if k > 1:
        batch = base.select(
            "ts",
            F.explode(
                F.array(*[F.concat("metric", F.lit(f"#{i}")) for i in range(k)])
            ).alias("metric"),
            "value",
        )
    n_rows = n_base * k
    passes = []
    with _tmpdir() as tmp:
        src_dir = os.path.join(tmp, "src")
        batch.write.mode("overwrite").parquet(src_dir)
        for i in range(1 + n_timed):
            stream = spark.readStream.schema(batch.schema).parquet(src_dir)
            kept = stream_anchored_downsample(stream, metric="metric")
            la0 = _host_load()["loadavg_1m"]
            t0 = time.time()
            q = (
                kept.writeStream.format("noop")
                .option("checkpointLocation", os.path.join(tmp, f"ckpt{i}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            sec = round(time.time() - t0, 3)
            passes.append(
                {"sec": sec, "loadavg_1m_before": la0,
                 "loadavg_1m_after": _host_load()["loadavg_1m"]}
            )
    marg = statistics.median(p["sec"] for p in passes[1:])
    return {"operator": "stream_anchored_downsample", "rows": n_rows,
            "replication": k, "passes": passes,
            "sec": passes[0]["sec"],
            "rows_per_sec": round(n_rows / passes[0]["sec"]),
            "sec_marginal": marg,
            "rows_per_sec_marginal": round(n_rows / marg),
            "marginal_aggregation": f"median_of_{n_timed}"}


def stream_lsh_probe(spark, sf_dir: str, n_batches: int = 20, n_passes: int = 3) -> dict:
    """Second streaming probe: docs/sec through the incremental
    MinHash-LSH near-dup operator (per-row signatures + stateful
    band-bucket store) replaying the documents table as ``n_batches``
    micro-batches (one parquet file per trigger).

    Reports both whole-run throughput and the **marginal** docs/sec over
    batches 2..n — batch 1 absorbs stream startup plus the bulk of the
    bucket-state initializations, so the marginal number is what a
    long-running deployment would actually see.

    Noise-robust shape (round 12, same treatment stream_rfm got in
    round 11): ``n_passes`` full replays, fresh source copy and
    checkpoint each, recorded numbers are the per-pass MEDIANS — this
    probe's 20 one-second triggers made single-pass numbers swing
    +/-30% with ambient load.
    """
    import statistics
    import tempfile

    from trend_o_meter_spark.catalog import table as cat_table
    from trend_o_meter_spark.streaming.lsh import stream_near_dup_lsh

    batch = cat_table(spark, "documents", sf_dir).select("doc_id", "text")
    n_rows = batch.count()
    # state partitions sized to per-batch volume, not the batch suite's 32:
    # each micro-batch pays one state-store commit + one Python stateful
    # task PER partition, a fixed cost that dominates small batches
    # (BASELINE.md round-4 attribution: 32 -> 8 partitions is 1.5x
    # marginal; round-12 directory-state decomposition: 8 -> 4 with
    # state_groups=8 is the best-of-3 operating point)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    # RocksDB state store for THIS probe only (round 14, VERDICT item 5):
    # 20 small triggers x 4 state groups is the frequent-small-commit
    # regime where RocksDB beats the HDFS-backed default — interleaved
    # warm A/B: rocksdb won 4/5 paired trials, medians 41.9 s / 137
    # marginal docs/s vs 52.3 s / 105 (pair set identical, 916).  The
    # bulk single-batch probes (anchored, cusum: one commit over ~25k
    # groups) measured the OPPOSITE (hdfs 2.97 s vs rocksdb 8.28 s
    # median, hdfs faster in 3/3 trials), so they keep the default.
    # Env-overridable for non-local runs.
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        os.environ.get(
            "SPARK_GRAFT_LSH_STATE_PROVIDER",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ),
    )
    secs, margs, n_progs = [], [], []
    try:
        for _ in range(int(n_passes)):
            with _tmpdir() as tmp:
                src_dir = os.path.join(tmp, "src")
                batch.repartition(n_batches).write.mode("overwrite").parquet(src_dir)
                stream = (
                    spark.readStream.schema(batch.schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src_dir)
                )
                # FUSED directory layout (round 13): signatures + banding
                # run inside the stateful kernel, removing the second
                # Python exchange the round-12 decomposition identified as
                # the floor.  G=4 is the measured best-of operating point
                # (interleaved A/B, BASELINE.md round-13: 424 vs 318
                # marginal docs/s over pre-banded G=8).  Library default
                # stays per-bucket for checkpoint/longevity reasons.
                pairs = stream_near_dup_lsh(
                    stream, state_groups=4, fuse_signatures=True
                )
                t0 = time.time()
                q = (
                    pairs.writeStream.format("noop")
                    .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                secs.append(round(time.time() - t0, 3))
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
                n_progs.append(len(progress))
                if len(progress) > 1:
                    tail = progress[1:]
                    tail_rows = sum(p["numInputRows"] for p in tail)
                    tail_sec = sum(p["durationMs"]["triggerExecution"] for p in tail) / 1000.0
                    if tail_sec > 0:
                        margs.append(tail_rows / tail_sec)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev_provider
        )
    sec = statistics.median(secs)
    out = {"operator": "stream_near_dup_lsh", "rows": n_rows,
           "sec": sec, "rows_per_sec": round(n_rows / sec),
           "batches": statistics.median(n_progs) if n_progs else 0,
           "aggregation": f"median_of_{n_passes}",
           "state_provider": os.environ.get(
               "SPARK_GRAFT_LSH_STATE_PROVIDER", "RocksDBStateStoreProvider"
           ).rsplit(".", 1)[-1]}
    if margs:
        out["marginal_rows_per_sec"] = round(statistics.median(margs))
    return out


def stream_rfm_probe(spark, sf_dir: str, n_batches: int = 20) -> dict:
    """Third streaming probe (VERDICT r08 task 5): rows/sec through the
    ``stream_rfm`` foreachBatch twin — the analytics-twin family member
    most likely to creep round-over-round, because every micro-batch
    re-derives quintile breakpoints over the full merged O(users) state.
    The events table replays as ``n_batches`` one-file micro-batches
    through a real foreachBatch writeStream; the per-batch report is
    consumed with count() so nothing stays lazy.  Reports whole-run and
    marginal (batches 2..n) rows/sec like the LSH probe.

    Noise-robust shape (VERDICT r10 task 1): the whole replay runs
    ``n_passes`` times — fresh state directory and checkpoint each — and
    the recorded whole-run/marginal numbers are the per-pass MEDIANS,
    with a loadavg stamp before/after every pass inline, so one ambient
    spike can neither set nor hide the recorded throughput."""
    import statistics
    import tempfile

    from trend_o_meter_spark.catalog import table as cat_table
    from trend_o_meter_spark.streaming.pipeline import stream_rfm

    n_passes = 3
    batch = cat_table(spark, "events", sf_dir).select(
        "ts", "user_id", "event_type", "value"
    )
    n_rows = batch.count()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    passes = []
    try:
        with _tmpdir() as tmp:
            src_dir = os.path.join(tmp, "src")
            batch.repartition(n_batches).write.mode("overwrite").parquet(src_dir)
            for i in range(n_passes):
                sink = {"segments": 0}
                per_batch = stream_rfm(
                    state_path=os.path.join(tmp, f"state{i}"),
                    on_result=lambda bid, df: sink.update(segments=df.count()),
                )
                stream = (
                    spark.readStream.schema(batch.schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src_dir)
                )
                la0 = _host_load()["loadavg_1m"]
                t0 = time.time()
                q = (
                    stream.writeStream.foreachBatch(per_batch)
                    .option("checkpointLocation", os.path.join(tmp, f"ckpt{i}"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                sec = round(time.time() - t0, 3)
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
                rec = {"sec": sec, "batches": len(progress),
                       "segments": sink["segments"],
                       "loadavg_1m_before": la0,
                       "loadavg_1m_after": _host_load()["loadavg_1m"]}
                if len(progress) > 1:
                    tail = progress[1:]
                    tail_rows = sum(p["numInputRows"] for p in tail)
                    tail_sec = (
                        sum(p["durationMs"]["triggerExecution"] for p in tail)
                        / 1000.0
                    )
                    if tail_sec > 0:
                        rec["marginal_rows_per_sec"] = round(tail_rows / tail_sec)
                passes.append(rec)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    sec = statistics.median(p["sec"] for p in passes)
    out = {"operator": "stream_rfm", "rows": n_rows, "sec": sec,
           "rows_per_sec": round(n_rows / sec), "batches": passes[0]["batches"],
           "segments": passes[0]["segments"], "passes": passes,
           "aggregation": f"median_of_{n_passes}"}
    marginals = [p["marginal_rows_per_sec"] for p in passes
                 if "marginal_rows_per_sec" in p]
    if marginals:
        out["marginal_rows_per_sec"] = statistics.median(marginals)
    return out


def stream_novelty_probe(spark, sf_dir: str, n_batches: int = 20) -> dict:
    """Fifth streaming probe (round 10): docs/sec through the
    ``stream_novelty`` foreachBatch twin — ingest-time novelty scoring
    against the per-gram min-doc-id state.  The twin's exactness
    premise is IN-doc_id-ORDER delivery, which a file stream cannot
    guarantee (FileStreamSource lists by mtime, and range-partitioned
    part files commit in task-finish order) — so the probe drives the
    foreachBatch callable directly over contiguous doc_id ranges (the
    twin_longevity pattern), making the premise real.  Each report is
    consumed with count(); whole-run and marginal (batches 2..n)
    docs/sec."""
    import tempfile

    from trend_o_meter_spark.catalog import table as cat_table
    from trend_o_meter_spark.streaming.pipeline import stream_novelty

    batch = cat_table(spark, "documents", sf_dir).select("doc_id", "text")
    n_rows = batch.count()
    hi = (batch.agg(F.max("doc_id")).head()[0] or 0) + 1
    span = -(-hi // n_batches)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with _tmpdir() as tmp:
            sink = {"docs": 0}
            per_batch = stream_novelty(
                state_path=os.path.join(tmp, "state"),
                on_result=lambda bid, df: sink.update(docs=df.count()),
            )
            walls = []
            t0 = time.time()
            for i in range(n_batches):
                chunk = batch.filter(
                    (F.col("doc_id") >= i * span) & (F.col("doc_id") < (i + 1) * span)
                )
                tb = time.time()
                per_batch(chunk, i)
                walls.append(time.time() - tb)
            sec = round(time.time() - t0, 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = {"operator": "stream_novelty", "rows": n_rows, "sec": sec,
           "rows_per_sec": round(n_rows / sec), "batches": n_batches,
           "docs_last_report": sink["docs"]}
    tail = sum(walls[1:])
    if tail > 0:
        # ranges are equal-width over a dense id space: batches 2..n
        # carry ~ (n-1)/n of the rows
        out["marginal_rows_per_sec"] = round(
            n_rows * (n_batches - 1) / n_batches / tail
        )
    return out


def stream_cusum_probe(spark, sf_dir: str) -> dict:
    """Fourth streaming probe: rows/sec through ``stream_cusum`` (the
    applyInPandasWithState monitoring twin) over the whole events table
    replayed as a file stream, frozen per-metric (median, MAD)
    calibration computed batch-side first — the production shape."""
    import tempfile

    from trend_o_meter_spark.catalog import table as cat_table
    from trend_o_meter_spark.streaming.stateful import stream_cusum

    batch = cat_table(spark, "events", sf_dir).select(
        "ts", F.col("event_type").alias("metric"), "value"
    )
    n_rows = batch.count()
    med = batch.groupBy("metric").agg(F.expr("percentile(value, 0.5)").alias("__med"))
    params = {
        r["metric"]: (float(r["__med"]), float(r["__mad"]))
        for r in batch.join(med, "metric")
        .groupBy("metric")
        .agg(
            F.expr("percentile(abs(value - __med), 0.5)").alias("__mad"),
            F.first("__med").alias("__med"),
        )
        .collect()
    }
    with _tmpdir() as tmp:
        src_dir = os.path.join(tmp, "src")
        batch.write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(batch.schema).parquet(src_dir)
        alarms = stream_cusum(stream, params=params)
        t0 = time.time()
        q = (
            alarms.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = round(time.time() - t0, 3)
    return {"operator": "stream_cusum", "rows": n_rows, "sec": sec,
            "rows_per_sec": round(n_rows / sec)}


def _calibrate(n_runs: int = 3, fan: int = 16) -> dict:
    """Host-contention instrument: a FIXED sha256-over-150MiB kernel
    timed ``n_runs`` times single-thread AND once across ``fan``
    concurrent threads (hashlib releases the GIL above 2 KiB updates,
    so the threads scale on free cores).  Wall is independent of suite
    content, so an inflated bench self-adjudicates from the artifact:

    * ``median`` (1-thread) inflated -> per-core hypervisor steal or
      frequency throttle;
    * 1-thread at reference but ``fan_wall`` inflated well above it ->
      CAPACITY oversubscription (co-tenants competing only under
      full-width load — the round-11 post-close signature: 1-thread
      read 0.130 vs the 0.124 quiet reference while the 32-way suite
      ran 1.32x slow);
    * both at reference but queries slow -> a real regression.

    In-VM loadavg can see none of this; the kernel pair can."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    block = b"\x5a" * 1_048_576  # 1 MiB
    hashlib.sha256(block)  # untimed warmup (page faults, code paths)

    def one(_=None) -> None:
        h = hashlib.sha256()
        for _ in range(150):  # 150 MiB of fixed work per thread
            h.update(block)

    times = []
    for _ in range(n_runs):
        t0 = time.time()
        one()
        times.append(round(time.time() - t0, 3))
    with ThreadPoolExecutor(max_workers=fan) as ex:
        t0 = time.time()
        list(ex.map(one, range(fan)))
        fan_wall = round(time.time() - t0, 3)
    # Disk kernel (round 13): 16 MiB fsync'd sequential write to the
    # DEFAULT temp medium — the scratch stock-placed shuffle/state files
    # would use.  The CPU pair cannot see a throttled disk: the round-13
    # sandbox read a clean 0.114 s sha256 while sustaining 8-12 MB/s
    # writes (85-99%% iowait under any shuffle), which alone inflated the
    # suite ~1.9x vs r12.  With this sample the artifact self-adjudicates
    # disk-starved rounds the way `median`/`fan_wall` adjudicate steal.
    # Round 14 (ADVICE r13): 3 samples with the MEDIAN recorded, matching
    # the sha256 kernel's convention — a single write on a bursty-steal
    # host can misread a transient stall as sustained throughput.
    import tempfile

    blk = b"\x5a" * (1 << 20)
    disk_runs = []
    for _ in range(3):
        t0 = time.time()
        fd, pth = tempfile.mkstemp(prefix="benchdisk_")
        try:
            with os.fdopen(fd, "wb") as fh:
                for _ in range(16):
                    fh.write(blk)
                fh.flush()
                os.fsync(fh.fileno())
        finally:
            os.remove(pth)
        disk_runs.append(round(16 / max(time.time() - t0, 1e-9), 1))
    return {"kernel": "sha256x150MiB", "runs": times,
            "median": sorted(times)[len(times) // 2],
            "fan": fan, "fan_wall": fan_wall,
            "disk_kernel": "fsync16MiB_default_tmp_x3",
            "disk_runs": disk_runs,
            "disk_mb_s": sorted(disk_runs)[len(disk_runs) // 2]}


def _host_load() -> dict:
    """Co-tenant-load stamp: BASELINE.md documents that streaming
    throughput tracks ambient host load; recording loadavg/uptime at
    each checkpoint makes that adjudication data instead of prose."""
    la1, la5, la15 = os.getloadavg()
    snap = {"loadavg_1m": round(la1, 2), "loadavg_5m": round(la5, 2),
            "loadavg_15m": round(la15, 2)}
    try:
        with open("/proc/uptime") as fh:
            snap["uptime_sec"] = round(float(fh.read().split()[0]))
    except OSError:
        pass
    return snap


def main() -> None:
    # Opt this process into tmpfs scratch (session.scratch_dir): the
    # measured-slow sandbox disk is a host property, not an engine cost;
    # SPARK_GRAFT_SCRATCH still overrides (empty value = stock disk).
    os.environ.setdefault("SPARK_GRAFT_LOCAL_SCRATCH", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("trend-o-meter-bench", master=f"local[{cpus}]")
    specs = {s.name: s for s in registry()}

    # Warm the JVM + parquet footer caches once (not timed).
    specs["q1_pricing_summary"].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Three full passes; report the per-query MEDIAN so a single ambient-load
    # spike (e.g. the driver's own correctness jobs sharing the host) cannot
    # manufacture a false >2x outlier in the recorded artifact.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    load = {"cpus": os.cpu_count(), "batch_start": _host_load(),
            "calibration_start": _calibrate()}
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pass_loads = []
    for _ in range(n_runs):
        for name in HEADLINE:
            t0 = time.time()
            specs[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
        pass_loads.append(_host_load())
    load["batch_after_pass"] = pass_loads

    times = {name: sorted(ts)[len(ts) // 2] for name, ts in samples.items()}

    # kernel sample between the batch suite and the streaming block: with
    # start/mid/end brackets BOTH halves of the artifact are independently
    # steal-attributable (VERDICT r11 task 8), not just the whole run
    load["calibration_streaming_start"] = _calibrate()
    load["streaming_start"] = _host_load()
    streaming = stream_probe(spark, sf_dir)
    load["streaming_lsh_start"] = _host_load()
    streaming_lsh = stream_lsh_probe(spark, sf_dir)
    load["streaming_rfm_start"] = _host_load()
    streaming_rfm = stream_rfm_probe(spark, sf_dir)
    load["streaming_cusum_start"] = _host_load()
    streaming_cusum = stream_cusum_probe(spark, sf_dir)
    load["streaming_novelty_start"] = _host_load()
    streaming_novelty = stream_novelty_probe(spark, sf_dir)
    load["end"] = _host_load()
    load["calibration_end"] = _calibrate()

    out = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "runs": n_runs,
        "aggregation": "per_query_median",
        "samples": samples,
        "sf": sf,
        "streaming": streaming,
        "streaming_lsh": streaming_lsh,
        "streaming_rfm": streaming_rfm,
        "streaming_cusum": streaming_cusum,
        "streaming_novelty": streaming_novelty,
        "host_load": load,
    }
    # Full result (with per-run samples) goes to its own files: the driver
    # records a bounded tail of stdout (exactly the LAST 2,000 chars —
    # every BENCH_r*.json `tail` is 2,000 chars, and the r06/r07 lines at
    # 2,728 chars came back `parsed: null`), so the stdout line must stay
    # under that budget.  BENCH_LAST.json keeps the latest full result
    # (compat with earlier rounds) and — VERDICT r13 item 5, so a later
    # run can no longer overwrite the close artifact — each run ALSO
    # writes an immutable per-run copy keyed by core count + timestamp
    # under BENCH_RUNS/.
    here = os.path.dirname(os.path.abspath(__file__))
    result_path = os.path.join(here, "BENCH_LAST.json")
    with open(result_path, "w") as fh:
        json.dump(out, fh)
        fh.write("\n")
    runs_dir = os.path.join(here, "BENCH_RUNS")
    os.makedirs(runs_dir, exist_ok=True)
    run_path = os.path.join(
        runs_dir, f"bench_c{cpus}_{time.strftime('%Y%m%dT%H%M%S')}.json"
    )
    with open(run_path, "w") as fh:
        json.dump(out, fh)
        fh.write("\n")

    # The stdout contract line.  VERDICT r13 item 2: the driver's PERF
    # stage computes per-query speedups ONLY from this line's `queries`
    # dict (it does not ingest the samples file), so the per-query
    # medians must ride in-line — within the 2,000-char tail window.
    # 79 full-precision medians + streaming blocks + calib cannot all
    # fit, so the line is assembled by priority with a measured budget:
    #   1. contract fields + per-query medians (compacted to <=2 decimal
    #      places; <0.5%% relative error, far under the driver's 10%%
    #      regression threshold);
    #   2. the steal/disk adjudication brackets as a 9-float array
    #      [cpu_start,mid,end, fan_start,mid,end, disk_start,mid,end];
    #   3. marginal throughput of 4 streaming probes, then the cusum
    #      probe's whole-run rate;
    #   4. run count + samples-file pointer.
    # Anything that does not fit persists in BENCH_LAST.json / BENCH_RUNS.
    def _compact(v: float, tier: int) -> float:
        # tier 0: 2 decimals under 10 s; tier 1: 1 decimal from 2 s up;
        # tier 2: 1 decimal from 1 s up.  Sub-second medians always keep
        # 2 decimals — 1 decimal on a 0.3 s query is 15%+ rounding error,
        # above the driver's 10% regression threshold.
        cut = (10.0, 2.0, 1.0)[tier]
        return round(v, 1) if v >= cut else round(v, 2)

    def _assemble(tier: int) -> dict:
        line = {
            "metric": out["metric"],
            "value": round(out["value"], 1),
            "unit": "sec",
            "sf": sf,
            "queries": {n: _compact(t, tier) for n, t in times.items()},
        }
        extras = [
            ("calib", [
                load["calibration_start"]["median"],
                load["calibration_streaming_start"]["median"],
                load["calibration_end"]["median"],
                load["calibration_start"]["fan_wall"],
                load["calibration_streaming_start"]["fan_wall"],
                load["calibration_end"]["fan_wall"],
                round(load["calibration_start"]["disk_mb_s"]),
                round(load["calibration_streaming_start"]["disk_mb_s"]),
                round(load["calibration_end"]["disk_mb_s"]),
            ]),
            ("stream_marginal", {
                "anchored": streaming.get("rows_per_sec_marginal"),
                "lsh": streaming_lsh.get("marginal_rows_per_sec"),
                "rfm": streaming_rfm.get("marginal_rows_per_sec"),
                "novelty": streaming_novelty.get("marginal_rows_per_sec"),
            }),
            # the cusum probe runs one availableNow pass with no warm
            # batches to split off, so it reports a whole-run rate
            ("stream_total", {"cusum": streaming_cusum.get("rows_per_sec")}),
            ("runs", n_runs),
            ("samples_file", os.path.relpath(run_path, here)),
        ]
        budget = STDOUT_CAP - 10  # leave slack under the cap
        for key, val in extras:
            trial = dict(line)
            trial[key] = val
            if len(json.dumps(trial, separators=(",", ":"))) <= budget:
                line = trial
        return line

    sys.stdout.flush()
    print(fit_stdout_line([_assemble(t) for t in (0, 1, 2)]))
    sys.stdout.flush()


STDOUT_CAP = 1995  # chars: the recorded stdout tail is the last 2,000


def fit_stdout_line(candidates: list[dict]) -> str:
    """The stdout line from ``candidates`` (precision tiers, finest
    first), never longer than ``STDOUT_CAP`` chars.

    Picks the finest tier that still carries the calib brackets (the
    environment-vs-code adjudication must live in the recorded line
    itself), else the finest that fits.  With 79 queries the
    full-precision medians alone measure ~1,950 chars, so a coarser tier
    (1 decimal above 1-2 s, <=5% rounding, under a 10% regression
    threshold) is usually what ships.  If even the coarsest tier
    overflows, per-query medians are dropped from the end until it fits
    and ``queries_omitted`` counts them; the full set stays in the
    ``BENCH_RUNS`` file."""

    def dumps(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    fitting = [c for c in candidates if len(dumps(c)) <= STDOUT_CAP]
    line = next((c for c in fitting if "calib" in c), fitting[0] if fitting else None)
    if line is None:
        line = {**candidates[-1], "queries": dict(candidates[-1]["queries"])}
        while len(dumps(line)) > STDOUT_CAP and line["queries"]:
            line["queries"].popitem()
            line["queries_omitted"] = len(candidates[-1]["queries"]) - len(line["queries"])
    return dumps(line)


if __name__ == "__main__":
    main()
