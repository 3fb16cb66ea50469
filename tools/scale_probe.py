"""Replicated-corpus scaling probe (BASELINE.md protocol).

Replicates the sf0.1 ``documents`` / ``embeddings`` tables with shifted
ids (the ADVERSARIAL input for dedup-family operators: every replica is
an exact duplicate, so every gram / LSH bucket / cluster cell is
maximally shared), JIT-warms once, then times each operator at the
requested replication factors with the noop sink.

    python tools/scale_probe.py semantic_dedup 1 4 16
    python tools/scale_probe.py pagerank 1 16 64
    python tools/scale_probe.py dup_span_removal 1 16 64
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from trend_o_meter_spark.catalog import table
from trend_o_meter_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _replicate(df: DataFrame, reps: int, id_col: str) -> DataFrame:
    """reps copies with shifted ids (deterministic explode, no rand)."""
    if reps == 1:
        return df
    span = (df.agg(F.max(id_col)).head()[0] or 0) + 1
    return df.select(
        F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"), "*"
    ).select(
        (F.col(id_col) + F.col("__r") * F.lit(span)).alias(id_col),
        *[c for c in df.columns if c != id_col],
    )


def _run(build, reps_list):
    spark = get_spark("scale-probe")
    for reps in reps_list:
        out = build(spark, reps)
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()  # JIT/IO warm
        cold = time.time() - t0
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        # cold matters for plans with a localCheckpoint: the warm run
        # materializes it and the timed run reuses it
        print(
            f"reps={reps}: {time.time() - t0:.1f}s (cold {cold:.1f}s)", flush=True
        )


def semantic_dedup_probe(spark, reps):
    from trend_o_meter_spark.llm import similarity

    emb = _replicate(table(spark, "embeddings", SF_DIR), reps, "vec_id")
    # auto-k (the new default): no manual k anywhere
    return similarity.semantic_dedup(emb, iters=2, threshold=0.35)


def pagerank_probe(spark, reps):
    """PageRank over ``reps`` disjoint copies of the simhash near-dup
    graph (node ids shifted per copy) — edges grow EXACTLY reps x, so
    the timing isolates the iterative join+agg loop.  Replicating the
    documents instead would make every replica an exact near-dup and the
    edge OUTPUT itself quadratic in reps (a property of near-dup
    semantics under duplication, not of the pagerank plan)."""
    from trend_o_meter_spark.llm import cluster, dedup

    d = table(spark, "documents", SF_DIR)
    pairs = dedup.simhash_near_dup_pairs(d, max_hamming=3, bands=4)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    span = (d.agg(F.max("doc_id")).head()[0] or 0) + 1
    if reps > 1:
        edges = edges.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"), "*"
        ).select(
            (F.col("src") + F.col("__r") * F.lit(span)).alias("src"),
            (F.col("dst") + F.col("__r") * F.lit(span)).alias("dst"),
        )
    return cluster.pagerank(edges, iters=3)


def dup_span_removal_probe(spark, reps):
    from trend_o_meter_spark.llm import dedup

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return dedup.dup_span_removal(d)


def winnowing_probe(spark, reps):
    from trend_o_meter_spark.llm import text

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return text.winnowing_fingerprints(d)


def holt_probe(spark, reps):
    """Replicated events with shifted event_ids: key count stays fixed
    (5 event_types) so per-key series grow reps x — the worst case for a
    sequential-within-key scan (parallelism across keys can't help)."""
    from trend_o_meter_spark.operators import trend

    ev = _replicate(
        table(spark, "events", SF_DIR).select("event_id", "ts", "event_type", "value"),
        reps,
        "event_id",
    )
    return trend.holt_linear(ev, keys=("event_type",), tiebreak=("event_id",))


def mad_probe(spark, reps):
    """Replicated events, FIXED key count (5 event_types): each key's
    sample multiset grows reps x — exactly the shape where the old
    exact-``percentile`` median built a reps x value buffer in one
    final-merge task.  The exact-rank rewrite must stay ~linear wall
    with no fat single task (ties collapse at the per-(key, value)
    counts step; the replicas ARE ties, so the adversarial input for
    the old shape is the BEST case for the new one — pair with
    rfm_probe, whose replicas are all-distinct, for the other pole)."""
    from trend_o_meter_spark.operators import trend

    ev = _replicate(
        table(spark, "events", SF_DIR).select("event_id", "ts", "event_type", "value"),
        reps,
        "event_id",
    )
    return trend.mad_anomalies(ev, keys=("event_type",))


def rfm_probe(spark, reps):
    """Replicated events with SHIFTED user ids: the per-user table (the
    population whose 12 quintile breakpoints the old implementation
    computed with exact ``percentile``) grows reps x, and the recency
    metric stays near-all-distinct — the continuous pole of the
    exact-rank construction (distinct values spread across buckets, so
    the per-bucket windows grow reps/B x, never reps x in one task)."""
    from trend_o_meter_spark.operators import analytics

    ev = table(spark, "events", SF_DIR).select("ts", "user_id", "event_type", "value")
    if reps > 1:
        span = (ev.agg(F.max("user_id")).head()[0] or 0) + 1
        ev = ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"), "*"
        ).select(
            "ts",
            (F.col("user_id") + F.col("__r") * F.lit(span)).alias("user_id"),
            "event_type",
            "value",
        )
    return analytics.rfm_segments(ev)


def triangles_probe(spark, reps):
    """Replicated verified-near-dup EDGE LIST with both endpoints
    shifted: reps disjoint copies of the graph, so edges, wedges, and
    triangles all grow exactly reps x — the linear-scaling check for
    the oriented wedge join (the operator's contract input is a deduped
    graph; the adversarial near-clique case is documented as
    out-of-contract in SCALE.md with the measured 2.15M-edge boundary)."""
    from trend_o_meter_spark.llm import cluster, dedup

    d = table(spark, "documents", SF_DIR)
    pairs = dedup.verified_near_dups(d).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()  # probe the triangle join, not the LSH pipeline
    if reps > 1:
        span = (
            pairs.agg(
                F.greatest(F.max("src"), F.max("dst")).alias("m")
            ).head()["m"]
            or 0
        ) + 1
        pairs = pairs.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"), "*"
        ).select(
            (F.col("src") + F.col("__r") * F.lit(span)).alias("src"),
            (F.col("dst") + F.col("__r") * F.lit(span)).alias("dst"),
        )
    return cluster.triangle_counts(pairs)


def assoc_probe(spark, reps):
    """Replicated events with SHIFTED user ids: baskets grow reps x
    while the item-type cardinality stays fixed — the pair self-join's
    claimed bound (sum(basket_size^2), never the stream) predicts
    linear wall in reps."""
    from trend_o_meter_spark.operators import analytics

    ev = table(spark, "events", SF_DIR).select("ts", "user_id", "event_type")
    if reps > 1:
        span = (ev.agg(F.max("user_id")).head()[0] or 0) + 1
        ev = ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"), "*"
        ).select(
            "ts",
            (F.col("user_id") + F.col("__r") * F.lit(span)).alias("user_id"),
            "event_type",
        )
    return analytics.assoc_rules(ev)


def interarrival_probe(spark, reps):
    """Replicated events with ts SHIFTED by a full corpus span per
    replica: the stream's wall-clock span (and so each key's series)
    grows reps x while the key count stays fixed at 5 — exactly the
    shape where the pre-r8 per-event_type lag window put one task on
    each metric's ENTIRE history.  The (event_type, hour-bucket)
    decomposition must hold wall roughly linear with parallelism
    ~ keys x hours; the per-task sort stays one bucket, never a whole
    series (plan-checked by tests/test_plans.py)."""
    from trend_o_meter_spark.workload import interarrival_quantiles_from_events

    ev = table(spark, "events", SF_DIR).select("event_id", "ts", "event_type")
    if reps > 1:
        span_us = (
            ev.agg(
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("s")
            ).head()[0]
            or 0
        ) + 1_000_000
        idspan = (ev.agg(F.max("event_id")).head()[0] or 0) + 1
        ev = ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"), "*"
        ).select(
            (F.col("event_id") + F.col("__r") * F.lit(idspan)).alias("event_id"),
            F.timestamp_micros(
                F.unix_micros("ts") + F.col("__r").cast("long") * F.lit(span_us)
            ).alias("ts"),
            "event_type",
        )
    return interarrival_quantiles_from_events(ev)


def novelty_probe(spark, reps):
    """Replicated documents with shifted doc ids — the ADVERSARIAL
    input: every replica shares ALL its grams with the original, so the
    distinct-gram (first occurrence) table stays FIXED size while the
    (gram, doc) pair table and the join fan-out grow exactly reps x.
    Predicted linear wall; boilerplate grams concentrate reps x into
    single buckets (AQE skew-split territory)."""
    from trend_o_meter_spark.llm import dedup

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return dedup.ngram_novelty(d)


def tdigest_probe(spark, reps):
    """Replicated events with FIXED key count (5 event_types): each
    key's value multiset grows reps x, so partial-digest count grows
    reps x while every partial stays O(delta) — the merge tree
    (fanout=16 intermediate level) must hold wall ~linear and the final
    per-key merge input stays <= fanout rows whatever reps is.  The
    exact-rank audit scan (count(v<est)) is a broadcast join + keyed agg
    and should dominate at high reps (it rescans the corpus)."""
    from trend_o_meter_spark.operators import tdigest

    ev = _replicate(
        table(spark, "events", SF_DIR).select("event_id", "event_type", "value"),
        reps,
        "event_id",
    )
    return tdigest.tdigest_bounds(ev, keys=("event_type",))


def html_probe(spark, reps):
    """Replicated documents: pure per-row mapInPandas (synthesize page +
    tokenize + extract) — the no-shuffle pole; wall must be ~linear with
    zero exchange growth."""
    from trend_o_meter_spark.llm import html

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return html.html_extract(d)


def warc_probe(spark, reps):
    """Replicated documents: one shuffle on the chunk key, then per-chunk
    archive build + gunzip + record parse + HTTP split + extraction —
    chunk count grows reps x, chunk size stays 16 docs, so wall must be
    ~linear with flat per-task memory (the real-deployment analogue:
    one task per .warc.gz member)."""
    from trend_o_meter_spark.llm import warc

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return warc.warc_extract(d)


def robots_probe(spark, reps):
    """Replicated documents: per-source policy parse is memoized per
    task, each URL evaluation is a handful of cached-regex matches —
    a pure map; wall must be ~linear with zero exchanges."""
    from trend_o_meter_spark.llm import robots

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return robots.robots_filter(d)


def priority_sample_probe(spark, reps):
    """Replicated documents, FIXED stratum count: each stratum's
    candidate set grows reps x while the output stays k+1 rows per
    stratum — the WindowGroupLimit map-side top-k must keep the shuffle
    O(k x map_tasks), so wall tracks the scan, not the window."""
    from trend_o_meter_spark.llm import sampling

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return sampling.priority_sample(d, weight="n_chars", strata="source", k=20)


def url_canonical_probe(spark, reps):
    from trend_o_meter_spark.llm import urls

    d = _replicate(table(spark, "documents", SF_DIR), reps, "doc_id")
    return urls.url_canonical(d)


def hard_negatives_probe(spark, reps):
    """Replicated embeddings (shifted vec_ids): anchors stay 5, the
    scanned corpus grows reps x — the brute-force baseline is linear by
    construction; the probe pins that the keyed-window top-k doesn't
    smuggle in anything worse."""
    from trend_o_meter_spark.llm import similarity

    emb = _replicate(table(spark, "embeddings", SF_DIR), reps, "vec_id")
    return similarity.hard_negatives(emb)


PROBES = {
    "url_canonical": url_canonical_probe,
    "hard_negatives": hard_negatives_probe,
    "semantic_dedup": semantic_dedup_probe,
    "pagerank": pagerank_probe,
    "dup_span_removal": dup_span_removal_probe,
    "winnowing": winnowing_probe,
    "holt": holt_probe,
    "mad": mad_probe,
    "rfm": rfm_probe,
    "triangles": triangles_probe,
    "assoc": assoc_probe,
    "interarrival": interarrival_probe,
    "novelty": novelty_probe,
    "tdigest": tdigest_probe,
    "html": html_probe,
    "warc": warc_probe,
    "robots": robots_probe,
    "priority_sample": priority_sample_probe,
}


if __name__ == "__main__":
    name = sys.argv[1]
    reps = [int(r) for r in sys.argv[2:]] or [1, 4, 16]
    print(f"== {name} @ {SF_DIR} ==", flush=True)
    _run(PROBES[name], reps)
