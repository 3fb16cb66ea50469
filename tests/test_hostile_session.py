"""Driver-session hostility: the driver hands us ITS SparkSession — the
contract must survive configs we didn't choose.  UTC is forced by
catalog.tune(); ANSI mode (the Spark 4 default posture) must be
survivable as-is: no bare int division, out-of-bounds element_at, or
overflow-throwing cast in any registry expression."""

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

# expression-heavy sample across operator families (full-registry ANSI
# sweep is run out-of-band; this pins the riskiest shapes in CI time)
SAMPLE = [
    "scalar_funcs", "datetime_funcs", "text_stats", "lang_id",
    "flagship_day_bins", "q1_pricing_summary", "sliding_rates_10s",
    "lm_score", "repetition_stats", "trending_daily", "pack_sequences",
    # round-3 additions (array serialization, star CC, PMI ln math)
    "quantize_embeddings", "kmeans_centroids", "dedup_clusters_star",
    "cooc_pmi_topk", "resize_image_meta", "pq_codes", "dup_span_stats",
    "pq_adc_topk", "split_drift_ks", "cross_corpus_lsh", "curation_funnel",
    # round-4 additions (decimal ratio division, interval arithmetic,
    # struct-comparison survivor rule, ln bucket ratios)
    "q14_promo_revenue", "q21_waiting_suppliers", "q22_dormant_customers",
    "semantic_dedup", "dsir_weights",
]


@pytest.mark.parametrize("name", SAMPLE)
def test_query_survives_ansi_mode(spark, name):
    # restore-by-unset when the conf was unset before: restoring to the
    # "false" FALLBACK would pin legacy semantics (size(null) = -1) on
    # the shared session — Spark 4's unset default is ANSI ON (found
    # live: a downstream size()-based test failed only in full-suite
    # order, round 12)
    try:
        before = spark.conf.get("spark.sql.ansi.enabled")
    except Exception:
        before = None
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert entry_mod.queries()[name](spark, SF_DIR).count() >= 0
    finally:
        if before is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", before)


def test_shuffle_partitions_default_follows_host(monkeypatch):
    """``spark.sql.shuffle.partitions`` defaults to the host core count
    get_spark gives the master: ``SPARK_GRAFT_SHUFFLE`` wins, else
    ``SPARK_GRAFT_CPUS``, else 32 — resolved at import, as a string."""
    import importlib

    from trend_o_meter_spark import session

    def resolved(**env):
        for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_CPUS"):
            monkeypatch.delenv(k, raising=False)
        for k, v in env.items():
            monkeypatch.setenv(k, v)
        return importlib.reload(session).RUNTIME_CONF["spark.sql.shuffle.partitions"]

    try:
        assert resolved() == "32"
        assert resolved(SPARK_GRAFT_CPUS="6") == "6"
        assert resolved(SPARK_GRAFT_CPUS="6", SPARK_GRAFT_SHUFFLE="12") == "12"
        assert resolved(SPARK_GRAFT_SHUFFLE="12") == "12"
        assert resolved(SPARK_GRAFT_CPUS="*") == "32"  # local[*]: no count
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_tune_raises_on_a_rejected_runtime_conf_value(spark, monkeypatch):
    """A ``RUNTIME_CONF`` value Spark rejects (``SPARK_GRAFT_SHUFFLE=auto``
    is no partition count) raises, naming the key, and the session keeps
    the value it had instead of silently running at another one."""
    from pyspark.errors import IllegalArgumentException

    from trend_o_meter_spark import session

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setitem(session.RUNTIME_CONF, key, "auto")
    with pytest.raises(IllegalArgumentException, match=key):
        session.tune(spark)
    assert spark.conf.get(key) == before


def test_python_workers_import_the_package_outside_the_checkout(tmp_path):
    """A driver started outside the checkout with ``PYTHONPATH`` unset
    still runs a ``mapInPandas`` operator: ``get_spark`` puts the
    package's parent on the Python workers' path."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    script = f"""
import sys
sys.path.insert(0, {str(root)!r})
from trend_o_meter_spark.session import get_spark
from trend_o_meter_spark.workload import registry

spark = get_spark("worker-path", master="local[1]")
query = {{spec.name: spec for spec in registry()}}["warc_extract"]
print("rows", query.spark(spark, {SF_DIR!r}).count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert int(run.stdout.split("rows")[-1]) > 0
