"""Distributed logistic regression — the trainable quality/language
classifier a curation pipeline gates documents with (the role fastText /
linear classifiers play in CCNet, Brown et al.'s GPT-3 quality filter,
and FineWeb's edu classifier; algorithm: plain batch gradient descent on
the logistic loss, Bishop PRML §4.3).

Spark-first shape: each GD iteration is ONE scan of the (cached,
min-max-scaled) feature frame producing k+1 gradient sums — map-side
combinable keyed nothing (a global aggregate), so the shuffle carries
k+1 rows whatever the corpus size.  The driver touches only O(k)
scalars per iteration (the weight vector — same discipline as the BPE
top-pair fetch and the CC convergence signature), never data.

Determinism discipline (what makes the oracle hash-exact):

* per-row gradient contributions quantize to 1e-9 BIGINTs *before* the
  sum, so aggregation is exact integer addition — partial-sum order
  cannot leak into the result (the moments/pagerank trick);
* weights re-quantize to 1e-9 after each update, sigmoid outputs to
  1e-6 — both via the shared ``floor(|x|*s + 0.5)/s`` away-from-zero
  form written out identically in the Spark expressions, the Python
  driver update, and the SQL oracle (NOT the engines' ``round``, whose
  tie rules differ: Python banker's vs SQL away-from-zero);
* ``exp`` is the one non-correctly-rounded op (cross-libm, the ln
  lesson in SCALE.md) — the 1e-6 sigmoid quantization absorbs the ulp.

Feature expressions are SQL strings valid in BOTH dialects (Spark
``F.expr`` and DuckDB) — stick to length/replace/translate/arithmetic;
note DuckDB's ``regexp_replace`` is first-match-only without the 'g'
flag, so prefer ``translate`` for char-class strips.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import lineage

# Default feature set: cheap char statistics that separate the corpus's
# language classes (used by the registry's language-classifier query).
DEFAULT_FEATURES: dict[str, str] = {
    "f_chars": "CAST(length(text) AS DOUBLE)",
    "f_spaces": "CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)",
    "f_vowels": "CAST(length(text) - length(translate(text, 'aeiou', '')) AS DOUBLE)",
}


def _q(x: float, s: float) -> float:
    """Away-from-zero quantize at 1/s — bit-identical to the SQL form."""
    if x >= 0:
        return math.floor(x * s + 0.5) / s
    return -math.floor(-x * s + 0.5) / s


def _q_sql(expr: str, s: str) -> str:
    return (
        f"(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) * {s} + 0.5) "
        f"ELSE -floor(-({expr}) * {s} + 0.5) END / {s})"
    )


def minmax_anchors(
    df: DataFrame, *, features: dict[str, str] | None = None
) -> dict[str, tuple[float, float]]:
    """The (min, max) scaling anchors per feature — ONE exact order-free
    aggregate over ``df``.  Train-time anchors are part of the model:
    persist them next to the weights and pass them to
    :func:`logreg_predict` when serving, or the same document scores
    differently depending on which batch it arrives with."""
    feats = dict(features or DEFAULT_FEATURES)
    names = list(feats)
    mm = (
        df.select(*[F.expr(sql).alias(n) for n, sql in feats.items()])
        .agg(
            *[F.min(n).alias(f"__mn_{n}") for n in names],
            *[F.max(n).alias(f"__mx_{n}") for n in names],
        )
        .collect()[0]
    )
    return {n: (float(mm[f"__mn_{n}"]), float(mm[f"__mx_{n}"])) for n in names}


def logreg_train(
    df: DataFrame,
    *,
    features: dict[str, str] | None = None,
    label_sql: str = "lang = 'en'",
    iters: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Train and return the weights: ``(term, weight)`` rows — one per
    feature plus ``__bias``, weights quantized at 1e-9.

    Features min-max scale to [0, 1] (min/max are exact, order-free
    aggregates — no mean/variance float accumulation to pin down);
    weights start at zero; ``iters`` batch-GD steps of the logistic
    loss with step ``lr``.  The scaling anchors are part of the model:
    recover them with :func:`minmax_anchors` on the SAME training frame
    and persist them alongside the weights for serving.
    """
    feats = dict(features or DEFAULT_FEATURES)
    names = list(feats)
    raw = _feature_frame(df, feats, label_sql=label_sql)
    anchors = _anchors_of(raw, names)
    b, w = _train_on_raw(raw, names, anchors, iters=iters, lr=lr)
    spark = df.sparkSession
    return spark.createDataFrame(
        [("__bias", b)] + [(n, w[n]) for n in names], "term string, weight double"
    )


def _feature_frame(
    df: DataFrame,
    feats: dict[str, str],
    *,
    label_sql: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """The raw feature columns (plus optional id/label), evaluated ONCE
    and lineage-cut: the anchors aggregate, every GD iteration, and the
    scoring pass all previously re-evaluated the text feature
    expressions from their own scan of ``df`` — three full corpus
    scans for one training run (guide §1.2)."""
    cols = []
    if id_col is not None:
        cols.append(F.col(id_col))
    cols.extend(F.expr(sql).alias(n) for n, sql in feats.items())
    if label_sql is not None:
        cols.append(F.expr(f"CAST(({label_sql}) AS INT)").alias("__y"))
    return lineage.cut(df.select(*cols), eager=True)


def _anchors_of(raw: DataFrame, names: list[str]) -> dict[str, tuple[float, float]]:
    """min/max anchors from the materialized feature frame — the same
    exact order-free aggregate :func:`minmax_anchors` runs, minus the
    duplicate feature-extraction scan."""
    mm = raw.agg(
        *[F.min(n).alias(f"__mn_{n}") for n in names],
        *[F.max(n).alias(f"__mx_{n}") for n in names],
    ).collect()[0]
    return {n: (float(mm[f"__mn_{n}"]), float(mm[f"__mx_{n}"])) for n in names}


def _train_on_raw(
    raw: DataFrame,
    names: list[str],
    anchors: dict[str, tuple[float, float]],
    *,
    iters: int,
    lr: float,
) -> tuple[float, dict[str, float]]:
    """The batch-GD loop of :func:`logreg_train` over the materialized
    feature frame.  Scaling is applied on the fly inside each gradient
    aggregate — identical doubles to the former pre-materialized z
    frame (same expressions over the same feature values), one fewer
    checkpoint."""
    zc = {}
    for n in names:
        mn, mx = anchors[n]
        rng = mx - mn if mx > mn else 1.0
        zc[n] = (F.col(n) - F.lit(mn)) / F.lit(rng)

    w = {n: 0.0 for n in names}
    b = 0.0
    lr = float(lr)
    for _ in range(int(iters)):
        t = F.lit(b)
        for n in names:
            t = t + F.lit(w[n]) * zc[n]
        p = F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-t))) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        d = p - F.col("__y")

        def qint(col):
            return (
                F.when(col >= 0, F.floor(col + F.lit(0.5)))
                .otherwise(-F.floor(-col + F.lit(0.5)))
                .cast("long")
            )

        row = raw.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(qint(d * F.lit(1e9))).alias("__sb"),
            *[
                F.sum(qint(d * zc[n] * F.lit(1e9))).alias(f"__s_{n}")
                for n in names
            ],
        ).collect()[0]
        n_rows = row["__n"]
        b = _q(b - lr * (float(row["__sb"]) / 1e9 / n_rows), 1e9)
        for n in names:
            w[n] = _q(w[n] - lr * (float(row[f"__s_{n}"]) / 1e9 / n_rows), 1e9)
    return b, w


def logreg_predict(
    df: DataFrame,
    weights: dict[str, float],
    *,
    features: dict[str, str] | None = None,
    id_col: str = "doc_id",
    anchors: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Score rows with trained weights: ``(id, p)`` with the same scaled
    features and 1e-6-quantized sigmoid.  ``weights`` must carry
    ``__bias`` plus every feature term.

    ``anchors`` are the TRAIN-TIME min-max anchors
    (:func:`minmax_anchors` on the training frame) — required for
    serving: without them the anchors recompute from ``df``, so the
    same document scores differently depending on which batch it is
    scored with.  Omitting them is only correct when ``df`` IS the
    training corpus, and emits a ``UserWarning`` saying so."""
    feats = dict(features or DEFAULT_FEATURES)
    names = list(feats)
    if anchors is None:
        import warnings

        warnings.warn(
            "logreg_predict: scaling anchors recomputed from the scoring "
            "frame — scores drift across batches unless df is the "
            "training corpus; pass anchors=minmax_anchors(train_df)",
            UserWarning,
            stacklevel=2,
        )
        anchors = minmax_anchors(df, features=feats)
    missing = set(names) - set(anchors)
    if missing:
        raise ValueError(f"anchors missing features: {sorted(missing)}")
    base = df.select(
        F.col(id_col), *[F.expr(sql).alias(n) for n, sql in feats.items()]
    )
    t = F.lit(float(weights["__bias"]))
    for n in names:
        mn, mx = anchors[n]
        rng = mx - mn if mx > mn else 1.0
        t = t + F.lit(float(weights[n])) * ((F.col(n) - F.lit(mn)) / F.lit(rng))
    p = F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-t))) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return base.select(F.col(id_col), p.alias("p"))


def logreg_train_and_score(
    df: DataFrame,
    *,
    features: dict[str, str] | None = None,
    label_sql: str = "lang = 'en'",
    iters: int = 3,
    lr: float = 0.5,
    id_col: str = "doc_id",
    with_label: bool = False,
) -> DataFrame:
    """Train on ``df`` then score every row with the trained weights:
    ``(id, p)`` — the full gate pipeline (fit + apply) in one call,
    sharing the train-time scaling anchors between the two phases.

    ``with_label=True`` additionally emits the training label as ``y``
    (INT) from the SAME materialized feature frame — for calibration
    consumers that would otherwise rescan the corpus for
    ``CAST(label_sql AS INT)`` and join it back on ``id_col`` (the
    label is already sitting next to every scored row)."""
    feats = dict(features or DEFAULT_FEATURES)
    names = list(feats)
    raw = _feature_frame(df, feats, label_sql=label_sql, id_col=id_col)
    anchors = _anchors_of(raw, names)
    b, w = _train_on_raw(raw, names, anchors, iters=iters, lr=lr)
    # score from the SAME materialized feature frame (identical feature
    # doubles, identical scaled expression to logreg_predict's)
    t = F.lit(b)
    for n in names:
        mn, mx = anchors[n]
        rng = mx - mn if mx > mn else 1.0
        t = t + F.lit(w[n]) * ((F.col(n) - F.lit(mn)) / F.lit(rng))
    p = F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-t))) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    cols = [F.col(id_col), p.alias("p")]
    if with_label:
        cols.append(F.col("__y").alias("y"))
    return raw.select(*cols)


def logreg_train_sql(
    table: str,
    *,
    features: dict[str, str] | None = None,
    label_sql: str = "lang = 'en'",
    iters: int = 3,
    lr: float = 0.5,
) -> str:
    """DuckDB twin of :func:`logreg_train`: the GD loop unrolled into CTE
    pairs (per-row sigmoid frame, gradient sums + weight update), same
    quantization forms, weights carried in 1-row CTEs instead of driver
    scalars — mechanisms differ, every float op and its order match."""
    feats = dict(features or DEFAULT_FEATURES)
    names = list(feats)
    lr_lit = repr(float(lr))
    fsel = ", ".join(f"{sql} AS {n}" for n, sql in feats.items())
    mmsel = ", ".join(
        f"min({n}) AS mn_{n}, max({n}) AS mx_{n}" for n in names
    )
    zsel = ", ".join(
        f"({n} - mn_{n}) / (CASE WHEN mx_{n} > mn_{n} THEN mx_{n} - mn_{n} ELSE 1.0 END) AS z_{n}"
        for n in names
    )
    w0 = ", ".join(["0.0 AS b"] + [f"0.0 AS w_{n}" for n in names])
    parts = [
        f"base AS (SELECT {fsel}, CAST(({label_sql}) AS INT) AS y FROM {table})",
        f"st AS (SELECT {mmsel} FROM base)",
        f"z AS (SELECT {zsel}, y FROM base, st)",
        f"w0 AS (SELECT {w0})",
    ]

    def qint(expr: str) -> str:
        return (
            f"CAST(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) + 0.5) "
            f"ELSE -floor(-({expr}) + 0.5) END AS BIGINT)"
        )

    for i in range(1, int(iters) + 1):
        wp = f"w{i-1}"
        t = " + ".join([f"{wp}.b"] + [f"{wp}.w_{n} * z_{n}" for n in names])
        p = f"floor((1.0 / (1.0 + exp(-({t})))) * 1000000.0 + 0.5) / 1000000.0"
        parts.append(f"zp{i} AS (SELECT z.*, {p} AS p FROM z, {wp})")
        gsums = ", ".join(
            [f"count(*) AS n, sum({qint('(p - y) * 1000000000.0')}) AS sb"]
            + [
                f"sum({qint(f'(p - y) * z_{n} * 1000000000.0')}) AS s_{n}"
                for n in names
            ]
        )
        parts.append(f"g{i} AS (SELECT {gsums} FROM zp{i})")
        upd = ", ".join(
            [
                _q_sql(
                    f"{wp}.b - {lr_lit} * (CAST(sb AS DOUBLE) / 1000000000.0 / n)",
                    "1000000000.0",
                )
                + " AS b"
            ]
            + [
                _q_sql(
                    f"{wp}.w_{n} - {lr_lit} * (CAST(s_{n} AS DOUBLE) / 1000000000.0 / n)",
                    "1000000000.0",
                )
                + f" AS w_{n}"
                for n in names
            ]
        )
        parts.append(f"w{i} AS (SELECT {upd} FROM {wp}, g{i})")
    ctes = ",\n".join(parts)
    finals = " UNION ALL ".join(
        [f"SELECT '__bias' AS term, b AS weight FROM w{int(iters)}"]
        + [f"SELECT '{n}', w_{n} FROM w{int(iters)}" for n in names]
    )
    return f"WITH {ctes}\n{finals}"


def logreg_score_sql(
    table: str,
    *,
    features: dict[str, str] | None = None,
    label_sql: str = "lang = 'en'",
    iters: int = 3,
    lr: float = 0.5,
    id_col: str = "doc_id",
) -> str:
    """Oracle for :func:`logreg_train_and_score`: the training CTE chain
    plus one scoring select — per-row sigmoid with the trained weights,
    quantized at 1e-6 like the training pass."""
    feats = dict(features or DEFAULT_FEATURES)
    names = list(feats)
    train = logreg_train_sql(
        table, features=feats, label_sql=label_sql, iters=iters, lr=lr
    )
    ctes = train[len("WITH ") : train.rindex("\nSELECT '__bias'")]
    wf = f"w{int(iters)}"
    fsel = ", ".join(f"{sql} AS {n}" for n, sql in feats.items())
    zt = " + ".join(
        [f"{wf}.b"]
        + [
            f"{wf}.w_{n} * (({n} - mn_{n}) / "
            f"(CASE WHEN mx_{n} > mn_{n} THEN mx_{n} - mn_{n} ELSE 1.0 END))"
            for n in names
        ]
    )
    return f"""
WITH {ctes},
scored_base AS (SELECT {id_col}, {fsel} FROM {table})
SELECT {id_col},
  floor((1.0 / (1.0 + exp(-({zt})))) * 1000000.0 + 0.5) / 1000000.0 AS p
FROM scored_base, st, {wf}
"""


# --- hashed bag-of-words logistic regression (fastText-style) ---------------


def _hashed_feats(
    df: DataFrame, *, text: str, id_col: str, n_features: int,
    grams: int | None = None,
):
    """Sparse term-frequency rows ``(did, bucket, tf)`` — tokens of the
    normalized text hashed into ``n_features`` buckets (shared md5), tf
    = bucket count / doc token count.  The feature map needs no
    vocabulary and no fitting: the standard hashing trick (Weinberger
    et al. 2009), which is what makes the classifier trainable in one
    pass over any corpus size.

    ``grams=None`` tokenizes on whitespace (bag of words); ``grams=n``
    uses overlapping character n-grams of the normalized text instead —
    the fastText-style feature set language identification needs (word
    identity barely transfers across languages; character shape does).
    A doc shorter than ``n`` chars contributes no rows either way (it
    scores at the bias alone downstream)."""
    from ..catalog import spread
    from ..llm.hashing import md5_int
    from .dedup import _norm

    # the per-doc token count rides the explode as a map-side column
    # (it is a closed-form function of the normalized text), so ONE
    # gram pass feeds both the bucket counts and the tf denominator —
    # the former lens branch re-ran the whole explode+md5 lineage a
    # second time and joined it back (guide §2.4: remove the shuffle
    # and the duplicate pass outright)
    if grams is not None:
        # one-core guard (guide §2.5): the char-gram path explodes one
        # row per POSITION (n_chars rows, each md5-hashed) — heavy
        # map-side CPU over a possibly single-split scan; no-op at real
        # scan widths.  The words path below stays unspread: its explode
        # is ~6x fewer rows and measurably cheaper than the added
        # exchange (A/B: 3.5 s vs 4.3 s median for logreg_hashed_weights).
        base = spread(df).select(
            F.col(id_col).alias("did"), _norm(F.col(text)).alias("__t")
        )
        idx = F.when(
            F.length("__t") >= grams,
            F.sequence(F.lit(1), F.length("__t") - grams + 1),
        ).otherwise(F.array().cast("array<int>"))
        base = base.select(
            "did",
            "__t",
            F.greatest(
                F.length("__t") - F.lit(grams - 1), F.lit(0)
            ).cast("long").alias("__len"),
        )
        toks = base.select(
            "did", "__t", "__len", F.explode(idx).alias("__i")
        ).select(
            "did",
            "__len",
            F.col("__t").substr(F.col("__i"), F.lit(grams)).alias("tok"),
        )
    else:
        # token array STAGED in its own projection so size() and the
        # explode both read the attribute instead of re-evaluating the
        # split (CollapseProject keeps multi-referenced non-cheap
        # aliases staged); empties only arise from the all-whitespace
        # doc (_norm trims and single-spaces), whose lone "" token the
        # codegen'd row filter drops — so size(__arr) IS the filtered
        # token count for every doc that emits rows.  An F.filter HOF
        # here measured 2x the whole query (interpreted lambda per
        # token, evaluated under both consumers).
        base = df.select(
            F.col(id_col).alias("did"),
            F.split(_norm(F.col(text)), " ").alias("__arr"),
        )
        toks = base.select(
            "did",
            F.size("__arr").cast("long").alias("__len"),
            F.explode("__arr").alias("tok"),
        ).filter(F.col("tok") != "")
    bucket = md5_int(F.concat(F.lit("f:"), F.col("tok"))) % n_features
    counts = (
        toks.select("did", "__len", bucket.alias("bucket"))
        .groupBy("did", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("__len").alias("len"))
    )
    return counts.select(
        "did", "bucket", (F.col("cnt").cast("double") / F.col("len")).alias("tf")
    )


def logreg_hashed_train(
    df: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    label_sql: str = "lang = 'en'",
    n_features: int = 64,
    iters: int = 3,
    lr: float = 0.5,
    grams: int | None = None,
) -> DataFrame:
    """Sparse-feature batch-GD logistic regression over hashed
    bag-of-words — the fastText/CCNet-style quality/language gate, with
    no vocabulary to fit and no dense feature columns to enumerate.

    Output: ``(term, weight)`` rows — ``__bias`` plus ``b<bucket>`` per
    feature bucket PRESENT in the corpus, 1e-9-quantized.

    Scale shape per iteration: one broadcast join of the KB-sized
    weight table onto the sparse feature rows + a did-keyed integer sum
    (the logits), then an err join back + a bucket-keyed integer sum
    (the gradients) — two keyed shuffles, driver state O(n_features)
    scalars.  Same determinism discipline as :func:`logreg_train`
    (per-row 1e-9 BIGINT quantization before every sum, 1e-6 sigmoid,
    shared away-from-zero quantizer), so the DuckDB oracle is
    hash-exact."""
    feats = lineage.cut(
        _hashed_feats(
            df, text=text, id_col=id_col, n_features=n_features, grams=grams
        ),
        eager=True,
    )
    labels = lineage.cut(
        df.select(
            F.col(id_col).alias("did"),
            F.expr(f"CAST(({label_sql}) AS INT)").alias("y"),
        ),
        eager=True,
    )
    n_rows = labels.count()
    present = sorted(r["bucket"] for r in feats.select("bucket").distinct().collect())
    spark = df.sparkSession
    b, w = _hashed_gd(
        feats, labels, n_rows=n_rows, present=present, iters=iters, lr=lr
    )
    return spark.createDataFrame(
        [("__bias", b)] + [(f"b{k}", w[k]) for k in present],
        "term string, weight double",
    )


def _qint(col):
    return (
        F.when(col >= 0, F.floor(col + F.lit(0.5)))
        .otherwise(-F.floor(-col + F.lit(0.5)))
        .cast("long")
    )


def _hashed_gd(
    feats: DataFrame,
    labels: DataFrame,
    *,
    n_rows: int,
    present: list[int],
    iters: int,
    lr: float,
) -> tuple[float, dict[int, float]]:
    """The batch-GD loop over a (checkpointed) sparse feature frame —
    shared by the single-head trainer and the multi-head langid trainer
    so heads reuse ONE materialized frame instead of rebuilding it."""
    spark = feats.sparkSession
    w = {bkt: 0.0 for bkt in present}
    b = 0.0
    lr = float(lr)
    for _ in range(int(iters)):
        wdf = spark.createDataFrame(
            [(int(k), float(v)) for k, v in w.items()], "bucket long, w double"
        )
        logits = (
            feats.join(F.broadcast(wdf), "bucket")
            .select("did", _qint(F.col("w") * F.col("tf") * F.lit(1e9)).alias("__c"))
            .groupBy("did")
            .agg(F.sum("__c").alias("__s"))
        )
        t = F.lit(b) + F.coalesce(F.col("__s"), F.lit(0)).cast("double") / F.lit(1e9)
        p = F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-t))) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        zp = labels.join(logits, "did", "left").select(
            "did", "y", p.alias("p")
        )
        # ONE gradient job per iteration: the bias gradient rides along
        # as sentinel bucket -1 (real buckets are md5 % n_features >= 0).
        # Values identical to separate jobs — both are exact integer
        # sums of the same per-row quantized contributions.
        grows = (
            feats.join(zp, "did")
            .select(
                "bucket",
                _qint((F.col("p") - F.col("y")) * F.col("tf") * F.lit(1e9)).alias("__g"),
            )
            .unionByName(
                zp.select(
                    F.lit(-1).cast("long").alias("bucket"),
                    _qint((F.col("p") - F.col("y")) * F.lit(1e9)).alias("__g"),
                )
            )
            .groupBy("bucket")
            .agg(F.sum("__g").alias("__gs"))
            .collect()
        )
        for r in grows:
            k = r["bucket"]
            if k == -1:
                b = _q(b - lr * (float(r["__gs"]) / 1e9 / n_rows), 1e9)
            else:
                w[k] = _q(w[k] - lr * (float(r["__gs"]) / 1e9 / n_rows), 1e9)
    return b, w


def _hashed_score(
    feats: DataFrame, all_ids: DataFrame, b: float, w: dict[int, float], id_col: str
) -> DataFrame:
    """Score every id with a trained head off a shared feature frame:
    ``(id_col, p)``; rows with no features score at the bias alone."""
    spark = feats.sparkSession
    wdf = spark.createDataFrame(
        [(int(k), float(v)) for k, v in w.items()] or [(0, 0.0)],
        "bucket long, w double",
    )
    logits = (
        feats.join(F.broadcast(wdf), "bucket")
        .select("did", _qint(F.col("w") * F.col("tf") * F.lit(1e9)).alias("__c"))
        .groupBy("did")
        .agg(F.sum("__c").alias("__s"))
    )
    t = F.lit(float(b)) + F.coalesce(F.col("__s"), F.lit(0)).cast("double") / F.lit(1e9)
    p = F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-t))) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return all_ids.join(logits, "did", "left").select(
        F.col("did").alias(id_col), p.alias("p")
    )


def logreg_hashed_train_and_score(
    df: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    label_sql: str = "lang = 'en'",
    n_features: int = 64,
    iters: int = 3,
    lr: float = 0.5,
    grams: int | None = None,
) -> DataFrame:
    """Fit the hashed classifier on ``df`` then score every row:
    ``(id, p)`` — docs with no tokens score at the bias alone.  One
    materialized feature frame serves both the GD loop and the scoring
    join (the langid_scores shape)."""
    feats = lineage.cut(
        _hashed_feats(
            df, text=text, id_col=id_col, n_features=n_features, grams=grams
        ),
        eager=True,
    )
    labels = lineage.cut(
        df.select(
            F.col(id_col).alias("did"),
            F.expr(f"CAST(({label_sql}) AS INT)").alias("y"),
        ),
        eager=True,
    )
    n_rows = labels.count()
    present = sorted(r["bucket"] for r in feats.select("bucket").distinct().collect())
    b, w = _hashed_gd(
        feats, labels, n_rows=n_rows, present=present, iters=iters, lr=lr
    )
    return _hashed_score(feats, labels.select("did"), b, w, id_col)


def _hashed_sql_parts(
    table: str, *, text: str, id_col: str, label_sql: str, n_features: int,
    grams: int | None = None,
) -> list[str]:
    from ..llm.hashing import md5_int_sql
    from .dedup import NORM_SQL

    norm = NORM_SQL.format(c=text)
    bucket = md5_int_sql("'f:' || tok")
    # MATERIALIZED is load-bearing on every CTE the GD loop re-reads:
    # DuckDB inlines a plain CTE at each reference, and w{i}/b{i} read
    # w{i-1}/b{i-1} both directly and through c/zp/g/gb, so each copy
    # re-expanded feats -> toks (the char-gram UNNEST) and the plan grew
    # geometrically with iters (langid_scores_sql on the 100-doc
    # multilingual fixture: iters=2 OOM at 1 GB, iters=3 OOM at 12.5 GB;
    # materialized, iters=3 runs in 0.4 s, ~230 MB peak RSS)
    if grams is not None:
        # overlapping char n-grams of the normalized text; docs shorter
        # than n chars (or NULL) produce no rows, exactly like Spark's
        # empty-sequence explode
        toks_sql = f"""toks AS MATERIALIZED (
  SELECT did, substr(t, i, {grams}) AS tok
  FROM (SELECT {id_col} AS did, {norm} AS t FROM {table}),
       UNNEST(generate_series(1, length(t) - {grams - 1})) AS u(i)
)"""
    else:
        toks_sql = f"""toks AS MATERIALIZED (
  SELECT {id_col} AS did, t.tok FROM {table},
  unnest(str_split({norm}, ' ')) AS t(tok) WHERE t.tok != ''
)"""
    return [
        f"base AS MATERIALIZED (SELECT {id_col} AS did, CAST(({label_sql}) AS INT) AS y FROM {table})",
        toks_sql,
        "lens AS MATERIALIZED (SELECT did, count(*) AS len FROM toks GROUP BY 1)",
        f"""bcnt AS MATERIALIZED (
  SELECT did, {bucket} % {n_features} AS bucket, count(*) AS cnt
  FROM toks GROUP BY 1, 2
)""",
        """feats AS MATERIALIZED (
  SELECT b.did, b.bucket, CAST(b.cnt AS DOUBLE) / l.len AS tf
  FROM bcnt b JOIN lens l USING (did)
)""",
        "w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS w FROM feats)",
        "b0 AS (SELECT 0.0 AS b)",
    ]


def _hashed_sql_iters(iters: int, lr: float) -> list[str]:
    lr_lit = repr(float(lr))

    def qint(expr: str) -> str:
        return (
            f"CAST(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) + 0.5) "
            f"ELSE -floor(-({expr}) + 0.5) END AS BIGINT)"
        )

    # every round is MATERIALIZED for the reason in _hashed_sql_parts:
    # inlined, each round re-expands all earlier rounds
    parts = []
    for i in range(1, int(iters) + 1):
        t = f"b{i-1}.b + CAST(coalesce(c.s, 0) AS DOUBLE) / 1000000000.0"
        p = f"floor((1.0 / (1.0 + exp(-({t})))) * 1000000.0 + 0.5) / 1000000.0"
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT f.did, sum({qint('w.w * f.tf * 1000000000.0')}) AS s
  FROM feats f JOIN w{i-1} w USING (bucket) GROUP BY 1
)"""
        )
        parts.append(
            f"""zp{i} AS MATERIALIZED (
  SELECT l.did, l.y, {p} AS p
  FROM base l LEFT JOIN c{i} c USING (did), b{i-1}
)"""
        )
        parts.append(
            f"""g{i} AS MATERIALIZED (
  SELECT f.bucket, sum({qint('(zp.p - zp.y) * f.tf * 1000000000.0')}) AS g
  FROM feats f JOIN zp{i} zp USING (did) GROUP BY 1
)"""
        )
        parts.append(
            f"gb{i} AS MATERIALIZED (SELECT count(*) AS n, "
            f"sum({qint('(p - y) * 1000000000.0')}) AS sb FROM zp{i})"
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT "
            + _q_sql(
                f"b{i-1}.b - {lr_lit} * (CAST(sb AS DOUBLE) / 1000000000.0 / n)",
                "1000000000.0",
            )
            + f" AS b FROM b{i-1}, gb{i})"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT w.bucket, "
            + _q_sql(
                f"w.w - {lr_lit} * (CAST(g.g AS DOUBLE) / 1000000000.0 / n)",
                "1000000000.0",
            )
            + f" AS w FROM w{i-1} w JOIN g{i} g USING (bucket), gb{i})"
        )
    return parts


def logreg_hashed_train_sql(
    table: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    label_sql: str = "lang = 'en'",
    n_features: int = 64,
    iters: int = 3,
    lr: float = 0.5,
    grams: int | None = None,
) -> str:
    parts = _hashed_sql_parts(
        table, text=text, id_col=id_col, label_sql=label_sql,
        n_features=n_features, grams=grams,
    ) + _hashed_sql_iters(iters, lr)
    k = int(iters)
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT '__bias' AS term, b AS weight FROM b{k}
UNION ALL
SELECT 'b' || CAST(bucket AS VARCHAR), w FROM w{k}
"""
    )


def logreg_hashed_score_sql(
    table: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    label_sql: str = "lang = 'en'",
    n_features: int = 64,
    iters: int = 3,
    lr: float = 0.5,
    grams: int | None = None,
) -> str:
    def qint(expr: str) -> str:
        return (
            f"CAST(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) + 0.5) "
            f"ELSE -floor(-({expr}) + 0.5) END AS BIGINT)"
        )

    parts = _hashed_sql_parts(
        table, text=text, id_col=id_col, label_sql=label_sql,
        n_features=n_features, grams=grams,
    ) + _hashed_sql_iters(iters, lr)
    k = int(iters)
    t = f"b{k}.b + CAST(coalesce(c.s, 0) AS DOUBLE) / 1000000000.0"
    p = f"floor((1.0 / (1.0 + exp(-({t})))) * 1000000.0 + 0.5) / 1000000.0"
    parts.append(
        f"""cf AS (
  SELECT f.did, sum({qint('w.w * f.tf * 1000000000.0')}) AS s
  FROM feats f JOIN w{k} w USING (bucket) GROUP BY 1
)"""
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT l.did AS {id_col}, {p} AS p
FROM base l LEFT JOIN cf c USING (did), b{k}
"""
    )


# --- trained language identification ----------------------------------------

LANGID_LANGS = ("de", "en", "es", "fr", "zh")


def langid_scores(
    df: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = LANGID_LANGS,
    n_features: int = 64,
    iters: int = 2,
    lr: float = 0.5,
    grams: int = 3,
) -> DataFrame:
    """Trained language identification — the fastText langid recipe
    (Joulin et al. 2017): one-vs-rest hashed char-n-gram logistic
    regression per language, fit on the corpus's own ``lang`` labels,
    then every doc scored against all heads.

    Output: ``doc_id, p_<lang>... , lang_pred`` where ``lang_pred`` is
    the head argmax (1e-6-quantized probabilities; ties break to the
    lexicographically-last language via the same struct-max lattice as
    text.lang_id, so both engines agree bit-exactly).

    Replaces guessing from a 5-stopword marker list (text.lang_id) with
    a classifier that learns whatever character shapes actually
    separate the labeled corpus.  Accuracy on a genuinely multilingual
    fixture is pinned in tests/test_llm.py; on corpora whose labels are
    independent of the text the heads converge near the class priors —
    the honest answer.

    Scale: training state is O(n_features) scalars per head
    (``len(langs) * iters`` keyed-integer-sum rounds, same discipline as
    :func:`logreg_hashed_train`); scoring is one broadcast join per head
    over the shared sparse char-gram frame.  At 100 TB you fit on a
    labeled sample and only the scoring pass sees the corpus."""
    # one materialized char-gram frame + label frame shared by all heads
    # (per-head train_and_score would rebuild and re-checkpoint both
    # len(langs) times for bit-identical results)
    feats = lineage.cut(
        _hashed_feats(
            df, text=text, id_col=id_col, n_features=n_features, grams=grams
        ),
        eager=True,
    )
    ids = lineage.cut(
        df.select(F.col(id_col).alias("did"), F.col(lang_col).alias("__lang")),
        eager=True,
    )
    n_rows = ids.count()
    present = sorted(r["bucket"] for r in feats.select("bucket").distinct().collect())

    # heads are independent given the shared frames — train them on
    # concurrent scheduler threads (results are per-head deterministic,
    # so scheduling order cannot leak); wall = one head's GD loop
    # instead of len(langs) of them (this is what keeps the trainer
    # under the plan audit's construction-wall threshold)
    from concurrent.futures import ThreadPoolExecutor

    def train_head(lang: str):
        labels = ids.select(
            "did", (F.col("__lang") == lang).cast("int").alias("y")
        )
        return _hashed_gd(
            feats, labels, n_rows=n_rows, present=present, iters=iters, lr=lr
        )

    with ThreadPoolExecutor(max_workers=len(langs)) as pool:
        heads = dict(zip(langs, pool.map(train_head, langs)))

    scores: DataFrame | None = None
    for lang in langs:
        b, w = heads[lang]
        s = _hashed_score(feats, ids.select("did"), b, w, id_col).withColumnRenamed(
            "p", f"p_{lang}"
        )
        scores = s if scores is None else scores.join(s, id_col)
    cands = F.array(
        *[
            F.struct(F.col(f"p_{lang}").alias("s"), F.lit(lang).alias("l"))
            for lang in langs
        ]
    )
    return scores.select(
        F.col(id_col),
        *[F.col(f"p_{lang}") for lang in langs],
        F.array_max(cands)["l"].alias("lang_pred"),
    )


def pretrained_langid_head(
    lang: str, *, n_features: int = 64
) -> tuple[float, dict[int, float]]:
    """Deterministic pinned weights for the scoring-only langid pass:
    per (lang, bucket), an md5-derived value in [-1, 1] quantized to
    1e-3, bias 0.  These are STAND-IN weights with the exact shape and
    cost profile of trained ones — the scoring pass (feature hashing,
    broadcast weight join, per-doc integer logit sum, argmax lattice)
    is what the bench row measures, and its wall clock is independent
    of the weight values.  Real weights come from
    :func:`langid_scores`'s trainer; at 100 TB you fit on a labeled
    sample and only this scoring pass sees the corpus."""
    import hashlib

    w = {}
    for k in range(int(n_features)):
        h = int(hashlib.md5(f"langid:{lang}:{k}".encode()).hexdigest()[:15], 16)
        w[k] = ((h % 2001) - 1000) / 1000.0
    return 0.0, w


def langid_scores_pretrained(
    df: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = LANGID_LANGS,
    n_features: int = 64,
    grams: int = 3,
) -> DataFrame:
    """The langid SCORING pass alone, with pinned pretrained heads
    (:func:`pretrained_langid_head`) — the production corpus-pass shape
    (train on a sample, score the corpus) and the benchable half of
    :func:`langid_scores`, whose driver-side GD loop is a ~22 s fixed
    cost at bench shape.  Output schema matches ``langid_scores``:
    ``doc_id, p_<lang>..., lang_pred`` (1e-6-quantized probabilities,
    struct-max argmax, ties to the lexicographically-last language).

    Scale: because the weights are known constants, each head's weight
    vector ships as a LITERAL lookup array inside the aggregation
    expression — all ``len(langs)`` logit sums happen in ONE pass over
    the feature rows (one did-keyed shuffle with map-side partials,
    zero joins, zero checkpoints, whole-stage codegen end to end).
    The per-head broadcast-join shape (:func:`_hashed_score`) is the
    fallback for weights too large to inline; at n_features=64 the
    literal array is strictly better."""
    feats = _hashed_feats(
        df, text=text, id_col=id_col, n_features=n_features, grams=grams
    )
    heads = {
        lang: pretrained_langid_head(lang, n_features=n_features)
        for lang in langs
    }
    idx = (F.col("bucket") + 1).cast("int")
    sums = [
        F.sum(
            _qint(
                F.element_at(
                    F.array(*[F.lit(heads[lang][1][k]) for k in range(n_features)]),
                    idx,
                )
                * F.col("tf")
                * F.lit(1e9)
            )
        ).alias(f"s_{lang}")
        for lang in langs
    ]
    logits = feats.groupBy("did").agg(*sums)
    ids = df.select(F.col(id_col).alias("did"))
    scored = ids.join(logits, "did", "left")

    def p_col(lang: str):
        b = F.lit(float(heads[lang][0]))
        t = b + F.coalesce(F.col(f"s_{lang}"), F.lit(0)).cast("double") / F.lit(1e9)
        return F.floor(
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-t))) * F.lit(1e6) + F.lit(0.5)
        ) / F.lit(1e6)

    scored = scored.select(
        F.col("did").alias(id_col),
        *[p_col(lang).alias(f"p_{lang}") for lang in langs],
    )
    cands = F.array(
        *[
            F.struct(F.col(f"p_{lang}").alias("s"), F.lit(lang).alias("l"))
            for lang in langs
        ]
    )
    return scored.select(
        F.col(id_col),
        *[F.col(f"p_{lang}") for lang in langs],
        F.array_max(cands)["l"].alias("lang_pred"),
    )


def langid_scores_pretrained_sql(
    table: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = LANGID_LANGS,
    n_features: int = 64,
    grams: int = 3,
) -> str:
    """DuckDB oracle for :func:`langid_scores_pretrained`: the shared
    hashed char-n-gram feature CTEs, one inline VALUES weight table per
    head (generated from the SAME :func:`pretrained_langid_head`
    constants the Spark side ships), the identical 1e-9 integer logit
    quantization and 1e-6 sigmoid, and the struct-max argmax lattice."""
    for lang in langs:
        if not re.fullmatch(r"[a-z0-9_]+", lang):
            raise ValueError(f"lang code not SQL-safe: {lang!r}")

    def qint(expr: str) -> str:
        return (
            f"CAST(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) + 0.5) "
            f"ELSE -floor(-({expr}) + 0.5) END AS BIGINT)"
        )

    parts = _hashed_sql_parts(
        table, text=text, id_col=id_col, label_sql="1=1",
        n_features=n_features, grams=grams,
    )[:-2]  # drop the w0/b0 trainer seeds — scoring ships its own weights
    for lang in langs:
        _b, w = pretrained_langid_head(lang, n_features=n_features)
        vals = ", ".join(f"({k}, {v!r})" for k, v in sorted(w.items()))
        parts.append(f"wt_{lang}(bucket, w) AS (VALUES {vals})")
        parts.append(
            f"""cf_{lang} AS (
  SELECT f.did, sum({qint('w.w * f.tf * 1000000000.0')}) AS s
  FROM feats f JOIN wt_{lang} w USING (bucket) GROUP BY 1
)"""
        )
    def p_expr(lang: str) -> str:
        t = f"0.0 + CAST(coalesce(cf_{lang}.s, 0) AS DOUBLE) / 1000000000.0"
        return f"floor((1.0 / (1.0 + exp(-({t})))) * 1000000.0 + 0.5) / 1000000.0"

    pcols = ", ".join(f"{p_expr(lang)} AS p_{lang}" for lang in langs)
    joins = "".join(
        f"\nLEFT JOIN cf_{lang} ON cf_{lang}.did = base.did" for lang in langs
    )
    packs = ", ".join(
        f"struct_pack(s := p_{lang}, l := '{lang}')" for lang in langs
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
, scored AS (
  SELECT base.did AS {id_col}, {pcols}
  FROM base{joins}
)
SELECT {id_col}, {', '.join(f'p_{lang}' for lang in langs)},
       (list_max([{packs}])).l AS lang_pred
FROM scored
"""
    )


def langid_scores_sql(
    table: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: tuple[str, ...] = LANGID_LANGS,
    n_features: int = 64,
    iters: int = 2,
    lr: float = 0.5,
    grams: int = 3,
) -> str:
    """One scoped-CTE subquery per language head (WITH inside parens, so
    the per-head CTE names cannot collide), joined on the id; argmax via
    the same struct-max lattice as the Spark side.

    Lang codes are interpolated both as SQL string literals and as
    identifier suffixes (``s_{lang}``), so they are validated against
    ``[a-z0-9_]+`` up front — a quote or space would otherwise produce a
    broken (or wrong) oracle query."""
    for lang in langs:
        if not re.fullmatch(r"[a-z0-9_]+", lang):
            raise ValueError(f"lang code not SQL-safe: {lang!r}")
    heads = []
    for lang in langs:
        head = logreg_hashed_score_sql(
            table, text=text, id_col=id_col,
            label_sql=f"{lang_col} = '{lang}'",
            n_features=n_features, iters=iters, lr=lr, grams=grams,
        )
        heads.append(f"({head}) AS s_{lang}")
    joins = heads[0] + "".join(
        f"\nJOIN {h} USING ({id_col})" for h in heads[1:]
    )
    packs = ", ".join(
        f"struct_pack(s := s_{lang}.p, l := '{lang}')" for lang in langs
    )
    pcols = ", ".join(f"s_{lang}.p AS p_{lang}" for lang in langs)
    return f"""
SELECT {id_col}, {pcols},
       (list_max([{packs}])).l AS lang_pred
FROM {joins}
"""


# --- probability calibration (reliability diagram + ECE) --------------------


def calibration_bins(
    df: DataFrame, *, p: str = "p", label: str = "y", n_bins: int = 10
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a scored
    frame (Guo et al. 2017, "On Calibration of Modern Neural Networks"):
    equal-width probability bins, per bin the mean predicted confidence
    vs the observed positive rate, and

        ECE = sum over bins of (n_b / N) * |acc_b - conf_b|

    — the QA check between training a quality/language gate and TRUSTING
    its scores as probabilities (a miscalibrated gate silently mis-sizes
    whatever threshold a curation pipeline sets on it).

    Expects ``p`` already 1e-6-quantized (the classifier family's score
    contract) — confidences then sum EXACTLY as BIGINT micro-units, the
    positive rate is a long/long division, and each bin's ECE
    contribution passes the shared away-from-zero 1e-9 quantization into
    a BIGINT so the total is an exact integer sum (no float-sum order
    dependence anywhere).  ``p = 1.0`` lands in the top bin.

    Output: one row per occupied bin — ``bin, n, n_pos, conf, acc, gap,
    ece`` (the total repeated per row).  Scale: one bin-keyed count
    shuffle (map-side combinable) over B <= n_bins rows, a 1-row totals
    broadcast; the scored frame is scanned once.
    """
    pc = F.col(p)
    b = F.least(F.lit(n_bins - 1), F.floor(pc * n_bins).cast("long")).alias("bin")
    bins = (
        df.filter(pc.isNotNull())
        .groupBy(b)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(label).cast("long")).cast("long").alias("n_pos"),
            F.sum(F.floor(pc * F.lit(1e6) + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("__psum"),
        )
    )
    tot = bins.agg(F.sum("n").cast("long").alias("__N"))
    conf = (F.col("__psum").cast("double") / F.lit(1e6)) / F.col("n").cast("double")
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    per = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        conf.alias("conf"),
        acc.alias("acc"),
        F.abs(acc - conf).alias("gap"),
        (
            (F.col("n").cast("double") / F.col("__N").cast("double"))
            * F.abs(acc - conf)
        ).alias("__contrib"),
    )
    cq = (
        F.when(F.col("__contrib") >= 0, F.floor(F.col("__contrib") * F.lit(1e9) + F.lit(0.5)))
        .otherwise(-F.floor(-F.col("__contrib") * F.lit(1e9) + F.lit(0.5)))
        .cast("long")
    )
    staged = per.select("bin", "n", "n_pos", "conf", "acc", "gap", cq.alias("__cq"))
    ece = staged.agg(F.sum("__cq").cast("long").alias("__e"))
    return staged.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n",
        "n_pos",
        "conf",
        "acc",
        "gap",
        (F.col("__e").cast("double") / F.lit(1e9)).alias("ece"),
    )


def calibration_bins_sql(
    scored_subquery: str,
    table: str,
    *,
    label_sql: str = "lang = 'en'",
    id_col: str = "doc_id",
    p: str = "p",
    n_bins: int = 10,
) -> str:
    """DuckDB twin of :func:`calibration_bins` over a scoring subquery
    (e.g. :func:`logreg_score_sql`'s SELECT) joined back to the labels:
    textually the same micro-unit sums, divisions, and 1e-9-quantized
    ECE contributions."""
    conf = f"(CAST(__psum AS DOUBLE) / 1e6) / CAST(n AS DOUBLE)"
    acc = f"CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"
    contrib = f"(CAST(n AS DOUBLE) / CAST(__N AS DOUBLE)) * abs(({acc}) - ({conf}))"
    cq = (
        f"CASE WHEN ({contrib}) >= 0 THEN CAST(floor(({contrib}) * 1e9 + 0.5) AS BIGINT) "
        f"ELSE -CAST(floor(-({contrib}) * 1e9 + 0.5) AS BIGINT) END"
    )
    return f"""
WITH scored AS ({scored_subquery}),
lab AS (SELECT {id_col}, CASE WHEN {label_sql} THEN 1 ELSE 0 END AS __y FROM {table}),
j AS (
  SELECT s.{p} AS __p, l.__y
  FROM scored s JOIN lab l USING ({id_col})
  WHERE s.{p} IS NOT NULL
),
bins AS (
  SELECT least({n_bins} - 1, CAST(floor(__p * {n_bins}) AS BIGINT)) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(__y) AS BIGINT) AS n_pos,
         CAST(sum(CAST(floor(__p * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS __psum
  FROM j GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS __N FROM bins),
staged AS (
  SELECT bin, n, n_pos,
         {conf} AS conf, {acc} AS acc, abs(({acc}) - ({conf})) AS gap,
         {cq} AS __cq
  FROM bins CROSS JOIN tot
),
ece AS (SELECT CAST(sum(__cq) AS BIGINT) AS __e FROM staged)
SELECT bin, n, n_pos, conf, acc, gap,
       CAST(__e AS DOUBLE) / 1e9 AS ece
FROM staged CROSS JOIN ece
"""
