"""Fleet-wide physical-plan audit: PLANS.md from every registry query.

`tests/test_plans.py` pins the load-bearing plan shapes (no cartesian
anywhere, TakeOrdered for top-k, pushdown on q1, keyed LSH joins, no
single-partition windows on the rate/rolling family).  This tool is the
wide-angle complement: it explains EVERY registry query (plan-only — no
execution) and tabulates the shuffle/codegen/pushdown shape, so a plan
regression anywhere in the contract shows up as a diff in PLANS.md.

    python tools/plan_audit.py [sf_dir]

Red flags (would fail the audit, column "flags"):
* CartesianProduct — never acceptable; every join family here is keyed.
* A WindowExec fed by `Exchange SinglePartition` — an unpartitioned
  window holding the whole input in one task (the r1 sliding_rates bug).
  Global final aggregates also exchange to a single partition — those
  are O(groups) and fine, so the detector only flags Window operators.
* BC-UNBOUNDED-DISTINCT — a HINT-FORCED BroadcastExchange whose subtree
  is a DISTINCT aggregation (functions=[]) keyed on an ID-like column
  (user_id/doc_id/vec_id/media_id/*key/*_hash/url): the broadcast side
  grows with the corpus, so a plan that is green at sf0.1 becomes a
  driver/executor memory killer at 100x (the round-12 bloom_membership
  finding — `F.broadcast(df.select(key).distinct())` with key=user_id).
  Detection runs on a THIRD explain pass with
  `spark.sql.autoBroadcastJoinThreshold=-1`: broadcasts the optimizer
  chose from size STATS disappear under that setting (and are
  scale-safe — at 100x the stats exceed the threshold and AQE picks a
  shuffle join), so only `F.broadcast(...)`-forced exchanges survive to
  be inspected.  Distincts over bounded-domain columns (event_type,
  lang, ...) do not match the ID pattern and stay legal; plan text
  cannot see cardinality, so the column test is a schema-name heuristic
  by design.

Checkpoint blindness (VERDICT r08 finding 1): operators that
materialize a multi-consumer intermediate via ``lineage.cut``
(localCheckpoint) truncate the explained plan at a ``Scan ExistingRDD``
— the audit used to see ``scan/push 0/0`` for exactly the queries whose
upstream shape most needed policing.  The audit therefore explains each
query TWICE: once as production builds it (to count the checkpoint
boundaries — ``ckpt`` column) and once with ``SPARK_GRAFT_NO_CHECKPOINT``
set so ``lineage.cut`` passes through and every metric reflects the
TRUE pre-checkpoint lineage.  ``Scan ExistingRDD`` also appears for
``createDataFrame`` spines, so ``ckpt`` is the production-minus-full
difference, not a raw count.  (The logreg classifier's EAGER training
checkpoints stay real in both passes — training executes at
construction time either way, and its queries emit small materialized
weight frames whose plan shape is not scan-bearing.)
"""

from __future__ import annotations

import os
import re
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from trend_o_meter_spark.lineage import AUDIT_ENV
from trend_o_meter_spark.session import get_spark
from trend_o_meter_spark.workload import registry


# Planning wall-time above this flags SLOW-PLAN: the analysis pass is
# per-query driver-side cost, so "a few seconds" (VERDICT r10 task 3) is
# where a 100x-wider funnel's planning would start to rival execution.
PLAN_WALL_FLAG_S = 5.0


def audit_plan(plan: str) -> dict:
    lines = plan.splitlines()
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    # a Window whose input Exchange is SinglePartition = whole input in one
    # task.  The scan must SKIP the Sort that always sits between Window
    # and its Exchange (a break on \bSort\b made this detector dead code —
    # it never reached the Exchange line; found by review, fixed with a
    # regression test in tests/test_plans.py) and break only on operators
    # that genuinely end the window's input subtree.
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b", ln) and "WindowGroupLimit" not in ln:
            for back in range(i + 1, min(i + 8, len(lines))):
                nxt = lines[back]
                if "Exchange SinglePartition" in nxt:
                    flags.append("1PART-WINDOW")
                    break
                if re.search(
                    r"Exchange (?:hash|range)partitioning|FileScan|BatchScan", nxt
                ):
                    break
    scans = len(re.findall(r"FileScan parquet", plan))
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "scans": scans,
        "pushed": pushed,
        "flags": ",".join(sorted(set(flags))) or "-",
    }


def bc_unbounded_distinct(plan: str) -> bool:
    """True iff the plan broadcasts a DISTINCT aggregation keyed on an
    ID-like column (see module docstring).  Callers are expected to pass
    a plan built under ``autoBroadcastJoinThreshold=-1`` so only
    hint-FORCED broadcasts are inspected; walk each BroadcastExchange's
    subtree via the marker-column indent parse."""

    def _marker(ln: str) -> int:
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    id_key = re.compile(
        r"keys=\[[^\]]*\b(?:user_id|doc_id|vec_id|media_id|url"
        r"|\w*_hash|\w*key)#",
        re.IGNORECASE,
    )
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln or "Reused" in ln:
            continue
        d = _marker(ln)
        # Cardinality shielding: the FIRST aggregate on each path below
        # the exchange defines the broadcast row set — anything beneath
        # it has been re-aggregated and cannot leak its cardinality into
        # the broadcast (bm25's O(query-terms) dfreq frame sits on top
        # of a (doc_id, term)-keyed distinct; the broadcast is still
        # tiny).  So: flag an id-keyed DISTINCT agg only when it is the
        # first aggregate met, and skip the subtree under any other
        # aggregate.
        shield: int | None = None
        for j in range(i + 1, len(lines)):
            dj = _marker(lines[j])
            if dj <= d:
                break  # left the broadcast subtree (incl. top-level -1)
            if shield is not None:
                if dj > shield:
                    continue
                shield = None
            if "HashAggregate" in lines[j]:
                if "functions=[]" in lines[j] and id_key.search(lines[j]):
                    return True
                shield = dj
    return False


def _explain(spark, spec, sf_dir: str) -> str:
    df = spec.spark(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", master="local[8]")
    rows = []
    n_flagged = 0
    for spec in registry():
        try:
            os.environ.pop(AUDIT_ENV, None)  # production shape: count cuts
            # build_s: the production pass wall (DataFrame construction +
            # explain).  With lazy lineage cuts this is per-segment
            # Catalyst planning; operators with construction-time driver
            # actions (fixpoint loops, trainers, count gates) execute
            # those too — it is the driver-visible cost a user pays
            # before the query's first result job.
            t0 = time.time()
            n_rdd_prod = len(re.findall(r"Scan ExistingRDD", _explain(spark, spec, sf_dir)))
            build_s = time.time() - t0
            os.environ[AUDIT_ENV] = "1"  # full lineage: true metrics
            # plan_s: the same wall with lineage.cut passing through —
            # the COUNTERFACTUAL cost of the full un-checkpointed
            # lineage (VERDICT r10 task 3).  plan_s >> build_s is the
            # measured justification for a query's cut boundaries.
            t0 = time.time()
            plan = _explain(spark, spec, sf_dir)
            plan_s = time.time() - t0
            # third pass, stats-broadcasts disabled: only hint-FORCED
            # BroadcastExchanges survive for the unbounded-distinct check
            prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                forced_bc = bc_unbounded_distinct(_explain(spark, spec, sf_dir))
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        except Exception as e:  # noqa: BLE001
            rows.append((spec.name, None, f"ERROR {type(e).__name__}"))
            n_flagged += 1
            continue
        finally:
            os.environ.pop(AUDIT_ENV, None)
        m = audit_plan(plan)
        if forced_bc:
            m["flags"] = ",".join(
                sorted(set(filter(None, m["flags"].split(","))) - {"-"}
                       | {"BC-UNBOUNDED-DISTINCT"})
            )
        m["ckpt"] = max(0, n_rdd_prod - len(re.findall(r"Scan ExistingRDD", plan)))
        m["build_s"] = round(build_s, 2)
        m["plan_s"] = round(plan_s, 2)
        # SLOW-PLAN fires only where PRODUCTION pays the full-lineage
        # planning: a query with zero cut boundaries whose planning
        # exceeds the threshold.  Cut queries' plan_s is the documented
        # counterfactual, not a production cost.
        if m["plan_s"] > PLAN_WALL_FLAG_S and m["ckpt"] == 0:
            m["flags"] = ",".join(
                sorted(set(filter(None, m["flags"].split(","))) - {"-"}
                       | {"SLOW-PLAN"})
            )
        if m["flags"] != "-":
            n_flagged += 1
        rows.append((spec.name, m, None))

    out = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` (plan-only,",
        "no execution; AQE runtime re-plans can only improve on these",
        "static shapes).  `sh` = hash/range-exchange count, `bc` = broadcast",
        "exchanges, `cg` = whole-stage-codegen spans, `TOaP` = compiles",
        "to TakeOrderedAndProject, `scan/push` = parquet scans / scans",
        "with pushed filters, `ckpt` = lineage.cut (localCheckpoint)",
        "boundaries in the PRODUCTION plan — every other metric reflects",
        "the TRUE pre-checkpoint lineage (SPARK_GRAFT_NO_CHECKPOINT pass),",
        "so a checkpointed query's upstream scans/shuffles stay auditable;",
        "at runtime each cut executes its subtree once and serves all",
        "consumers from the materialized RDD.  `build_s` = the PRODUCTION",
        "pass wall (construction + explain: per-segment planning, plus any",
        "construction-time driver actions — fixpoint loops, trainers,",
        "count gates — executing at this sf).  `plan_s` = the same wall",
        "with cuts passing through: the COUNTERFACTUAL full-lineage",
        "planning cost; plan_s >> build_s is the measured justification",
        "for that query's cut boundaries.  Flags: CARTESIAN, 1PART-WINDOW",
        "(window fed by a single-partition exchange), SLOW-PLAN",
        f"(plan_s > {PLAN_WALL_FLAG_S:g} s on a query with NO cut",
        "boundaries — production pays full-lineage planning) — all fail",
        "the audit.",
        "",
        f"Host load at generation: {os.getloadavg()[0]:.1f}/{os.cpu_count()}"
        " (1m loadavg/cpus) — wall columns are load-sensitive.",
        "",
        "| query | sh | bc | cg | TOaP | scan/push | ckpt | build_s | plan_s | flags |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, m, err in rows:
        if err:
            out.append(f"| {name} | - | - | - | - | - | - | - | - | {err} |")
            continue
        out.append(
            f"| {name} | {m['exchanges']} | {m['broadcasts']} | {m['codegen']} | "
            f"{'y' if m['take_ordered'] else ''} | {m['scans']}/{m['pushed']} | "
            f"{m['ckpt'] or ''} | {m['build_s']} | {m['plan_s']} | {m['flags']} |"
        )
    out.append("")
    out.append(f"{len(rows)} queries audited, {n_flagged} flagged.")
    text = "\n".join(out) + "\n"
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write(text)
    print(text.splitlines()[-1])
    return 1 if n_flagged else 0


if __name__ == "__main__":
    sys.exit(main())
