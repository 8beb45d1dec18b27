"""Distributed batch model inference over embedding columns (beyond the
reference surface — the scoring step of an LLM data-curation pipeline:
quality probes, domain classifiers, reward-model filters all reduce to
"apply a model to every row, at corpus scale").

Spark-first shape: a vectorized Arrow ``pandas_udf`` — the model runs
once per Arrow batch (one numpy gemm for a linear probe), not once per
row, and the scored column joins the plan inside the scan stage, so
downstream filters on the score compose with pushdown/pruning like any
other column. The model parameters ride the UDF closure, which Spark
serializes once per task: right for probe-sized models (k×dim floats).
For models too big to ship per-task, the same call site takes a scorer
built around a ``SparkContext.broadcast`` handle or an
executor-local lazy loader — the plumbing (batching, null handling,
column contract) is identical, which is the point of this module.

At 100 TB: inference is embarrassingly parallel — no shuffle at all;
cost is one corpus scan × model FLOPs. Keep the scored output narrow
(id + score) if the next stage is a filter-join, so the wide payload
is re-read only for survivors via the pruned join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .similarity import as_double_array


def linear_probe_scorer(weights, bias: float = 0.0, logistic: bool = True):
    """Build a batch scorer for a linear probe: score = w·x + b, with
    an optional logistic squash — the classic quality/domain classifier
    head over frozen embeddings. Returns
    ``Callable[[np.ndarray (n, d)], np.ndarray (n,)]``; vectors of the
    wrong dimension raise (a silent wrong-dim dot is a wrong answer,
    not an error, and would poison every downstream filter)."""
    w = np.asarray(weights, dtype=np.float64)

    def score(mat: np.ndarray) -> np.ndarray:
        if mat.shape[1] != w.shape[0]:
            raise ValueError(
                f"embedding dim {mat.shape[1]} != probe dim {w.shape[0]}"
            )
        z = mat @ w + bias
        return 1.0 / (1.0 + np.exp(-z)) if logistic else z

    return score


def batch_score(
    df: DataFrame,
    scorer,
    vec_col: str = "embedding",
    out_col: str = "score",
    round_to: int | None = 6,
) -> DataFrame:
    """Append a model score per row via one vectorized UDF.

    NULL-score policy (explicit, because Arrow's pandas→Spark transfer
    cannot distinguish NaN from missing in a double column): a NULL
    score means "no usable signal" — a NULL vector, an empty vector, OR
    a vector whose score came out non-finite (e.g. a NaN component from
    an upstream normalization bug). Callers who must tell corruption
    apart from absence should pre-filter with a finiteness check on the
    vector itself. Ragged vector lengths within a batch raise with the
    offending dimensions (a silent wrong-dim dot would be a wrong
    answer, and np.stack's own error names no rows). ``round_to``
    stabilizes the output for cross-engine comparison (float gemm order
    differs between BLAS implementations at ~1e-15; 6 dp is far above
    that noise and far below any decision threshold)."""

    @pandas_udf("double")
    def _score(vs: pd.Series) -> pd.Series:
        mask = vs.map(lambda v: v is not None and len(v) > 0)
        out = pd.Series(np.nan, index=vs.index, dtype="float64")
        if mask.any():
            lens = vs[mask].map(len)
            if lens.nunique() > 1:
                raise ValueError(
                    "ragged embedding lengths in batch: "
                    f"{sorted(set(lens))[:5]} — vectors must share one dim"
                )
            mat = np.stack(vs[mask].map(np.asarray).to_numpy())
            res = scorer(mat.astype(np.float64))
            # the documented policy is NULL for ANY non-finite score;
            # NaN already crosses Arrow as NULL but ±Infinity would
            # survive as a real double — normalize both to NaN here
            out[mask] = np.where(np.isfinite(res), res, np.nan)
        return out

    scored = df.withColumn(out_col, _score(F.col(vec_col)))
    if round_to is not None:
        scored = scored.withColumn(out_col, F.round(F.col(out_col), round_to))
    return scored


# ---------------------------------------------------------------------------
# Distributed probe TRAINING — the other half of the probe loop.
# ---------------------------------------------------------------------------

_PARTIAL_SCHEMA = "pos int, val double"


def train_logistic_probe(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    iters: int = 30,
    lr: float = 0.5,
    l2: float = 0.0,
    seed_weights=None,
):
    """Train the logistic quality/domain probe that ``batch_score``
    consumes, at corpus scale — full-batch gradient descent where each
    iteration is ONE distributed pass:

    ``mapInPandas`` computes a PARTIAL gradient per Arrow batch (one
    numpy gemm, emitting d+3 tiny rows: gradient components, bias
    gradient, loss, count), a groupBy over the component index sums the
    partials (partial aggregation collapses each task to d+3 rows
    before the exchange), and the driver collects exactly d+3 scalars
    to take the step. No data row ever reaches the driver — the same
    shape as MLlib's treeAggregate, expressed as a DataFrame plan.

    Labels must be 0/1 doubles (build with ``F.when`` upstream); NULL
    or empty vectors and NULL labels are skipped (they contribute
    nothing to gradient or loss). The input is persisted for the
    duration of training and unpersisted on exit — ``iters`` passes
    over a 100 TB corpus must re-read a materialized projection of
    (vec, label), not re-run upstream lineage per step.

    Returns ``(weights ndarray[d], bias float, history list[float])``
    (mean log-loss per iteration, pre-step). Float determinism: partial
    sums reduce in partition order, so reruns agree to ~1e-12 relative
    — bit-exactness is not promised (document-level decisions never
    hinge on it); tests pin against a single-process numpy reference
    at 1e-6.
    """
    from pyspark.storagelevel import StorageLevel

    base = df.select(
        as_double_array(F.col(vec_col)).alias("x"),
        F.col(label_col).cast("double").alias("y"),
    ).filter(
        F.col("x").isNotNull() & (F.size("x") > 0) & F.col("y").isNotNull()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dim = base.select(F.size("x").alias("d")).first()
        if dim is None:
            raise ValueError("no usable (vector, label) rows to train on")
        d = int(dim["d"])
        w = (
            np.zeros(d)
            if seed_weights is None
            else np.asarray(seed_weights, dtype=np.float64)
        )
        if w.shape != (d,):
            raise ValueError(f"seed_weights shape {w.shape} != ({d},)")
        b = 0.0
        history: list[float] = []
        for _ in range(iters):
            w_c, b_c = w.copy(), b

            def partial(batches):
                for pdf in batches:
                    mat = np.stack(pdf["x"].map(np.asarray).to_numpy())
                    if mat.shape[1] != w_c.shape[0]:
                        raise ValueError(
                            f"embedding dim {mat.shape[1]} != {w_c.shape[0]}"
                        )
                    y = pdf["y"].to_numpy(dtype=np.float64)
                    z = mat @ w_c + b_c
                    p = 1.0 / (1.0 + np.exp(-z))
                    resid = p - y
                    # clipped log-loss (the standard guard against
                    # log(0) at saturated predictions)
                    eps = 1e-15
                    pc = np.clip(p, eps, 1 - eps)
                    loss = -(y * np.log(pc) + (1 - y) * np.log(1 - pc)).sum()
                    grad = mat.T @ resid
                    out = pd.DataFrame(
                        {
                            "pos": np.arange(-3, d, dtype=np.int32),
                            "val": np.concatenate(
                                ([len(y), loss, resid.sum()], grad)
                            ),
                        }
                    )
                    yield out

            rows = (
                base.mapInPandas(partial, schema=_PARTIAL_SCHEMA)
                .groupBy("pos")
                .agg(F.sum("val").alias("s"))
                .collect()
            )
            sums = {int(r["pos"]): float(r["s"]) for r in rows}
            n = sums[-3]
            history.append(sums[-2] / n)
            grad_w = (
                np.array([sums[i] for i in range(d)]) / n + l2 * w
            )
            grad_b = sums[-1] / n
            w = w - lr * grad_w
            b = b - lr * grad_b
        return w, b, history
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# Classifier calibration / threshold sweep — the step between "probe is
# trained" and "pick the quality cutoff for the corpus filter".
# ---------------------------------------------------------------------------


def probe_calibration(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    n_buckets: int = 10,
) -> DataFrame:
    """Equal-width calibration + threshold-sweep table over a scored,
    labeled frame: one row per non-empty score bucket with the
    calibration curve (observed positive rate vs mean score) AND the
    precision/recall a corpus filter would get thresholding at the
    bucket's lower edge.

    Columns: ``bucket`` (0-based over [0,1), scores clamped in),
    ``n``, ``positives``, ``mean_score``, ``frac_positive`` — the
    reliability-diagram point — and ``precision_at``/``recall_at``:
    cumulative from the TOP bucket down, i.e. the operating point of
    "keep everything scoring ≥ this bucket's floor". The row count is
    ``n_buckets`` max, so picking a corpus-filter cutoff reads a
    dimension-sized table, not the corpus.

    Spark shape: one partial-agg scan to K rows, then window cumsums
    over those K rows — the corpus shuffles once, K-wide. NULL scores
    and NULL labels are excluded (scoring's documented "no usable
    signal" rows can't calibrate anything). ``mean_score`` is the
    exact decimal mean of the scores rounded half-up to 6 dp, so it
    does not depend on summation order; scores must fit
    ``decimal(38,18)`` (|score| < 1e20). Fully expression-level →
    exact DuckDB replay (``tests/test_inference.py``)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from pyspark.sql import Window

    s = F.col(score_col)
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor(s * n_buckets).cast("int")),
    )
    per = (
        # NaN (as opposed to NULL) survives isNotNull and would land in
        # bucket 0 with a NaN mean — exclude it like NULL ("no usable
        # signal", batch_score's documented policy)
        scored.filter(
            s.isNotNull()
            & ~F.isnan(s.cast("double"))
            & F.col(label_col).isNotNull()
        )
        .select(
            bucket.alias("bucket"),
            s.alias("_s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").alias("positives"),
            # exact decimal mean, rounded once: a double sum drifts in
            # the last ulp with summation order, enough to flip a mean
            # sitting on a 6-dp half-way point
            F.round(F.avg(F.col("_s").cast("decimal(38,18)")), 6)
            .cast("double")
            .alias("mean_score"),
        )
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total_pos = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "bucket",
        "n",
        "positives",
        "mean_score",
        F.round(F.col("positives") / F.col("n"), 6).alias("frac_positive"),
        F.round(
            F.sum("positives").over(w) / F.sum("n").over(w), 6
        ).alias("precision_at"),
        F.round(
            F.sum("positives").over(w)
            / F.greatest(F.lit(1), F.sum("positives").over(total_pos)),
            6,
        ).alias("recall_at"),
    ).orderBy("bucket")
