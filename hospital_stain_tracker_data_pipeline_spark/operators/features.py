"""Hashing-trick text featurization — the bridge from raw text to the
logistic probe family (``operators/inference.py``): fasttext-style
word unigram+bigram features hashed into a fixed-width dense vector,
so model-based quality/language/domain classifiers (the FineWeb-Edu /
CCNet filtering recipe — public methodology) can be trained and
applied with the existing ``train_logistic_probe`` / ``batch_score``
operators directly on a document corpus, no external embedding model
required.

No reference analogue (the reference has no ML surface); this is part
of the LLM-pipeline extension battery.

Spark shape — entirely JVM-side Columns, no UDF in the featurizer:
explode grams → md5-bucket → per-(doc, bucket) count (partial-agg
combines map-side) → one per-doc map → dense array projection. The
only corpus-sized shuffles are the two keyed aggregations; the dense
projection is O(dim) per doc. The md5 bucket hash is the repo's
cross-engine determinism trick (15 hex chars → positive 60-bit int),
so a pure-Python replay is exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from ..session import fs_delete, fs_read_bytes, fs_write_atomic


def _bucket(gram: Column, dim: int) -> Column:
    """md5-derived stable bucket in [0, dim) — delegates to the ONE
    engine-portable hash construction (``splits.split_bucket``) so a
    change to the cross-engine convention can't silently diverge."""
    from .splits import split_bucket

    return split_bucket(gram, dim).cast("int")


def hashed_text_features(
    df: DataFrame,
    dim: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
    normalize: bool = True,
    out_col: str = "features",
) -> DataFrame:
    """Append ``out_col`` (array<double>, length ``dim``): hashed
    bag-of-words counts over lowercase whitespace unigrams (+ adjacent
    bigrams when ``bigrams``), L2-normalized when ``normalize`` (the
    scale the probe's gradient descent expects; rounded to 6 dp for
    cross-engine stability). Blank/NULL text gets NULL features — the
    probe stack's explicit "no usable signal" policy (``batch_score``
    then scores them NULL rather than as empty documents).

    Bigrams come from zipping the token array with its shifted slice —
    the lambda touches only its own element (the HOF-CSE rule; an
    inline-split ``element_at`` form would re-tokenize per position).
    Collisions are the hashing trick's documented trade: with
    dim=128-1024 and short docs they cost a little resolution, never
    correctness — both engines (and train/score time) collide
    identically because the hash is deterministic.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    grams = toks
    if bigrams:
        n = F.size(toks)
        length = F.greatest(n - 1, F.lit(1))
        zipped = F.arrays_zip(
            F.slice(toks, 1, length).alias("t0"),
            F.slice(toks, 2, length).alias("t1"),
        )
        bi = F.transform(zipped, lambda x: F.concat_ws(" ", x["t0"], x["t1"]))
        # short docs: the zip NULL-pads and concat_ws degrades a
        # 1-token doc's "bigram" to the bare token — harmless (it
        # hashes like the unigram, doubling its count)
        grams = F.concat(toks, bi)

    per_gram = df.select(
        F.col(id_col), F.explode(grams).alias("_g")
    ).filter(F.col("_g") != "")
    counts = (
        per_gram.groupBy(id_col, _bucket(F.col("_g"), dim).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    maps = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_c")))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("int")), F.lit(0)
        ).cast("double"),
    )
    if normalize:
        # bind dense and the norm as COLUMNS before the normalizing
        # lambda touches them: a lambda referencing the inline
        # aggregate would re-evaluate it per element (the HOF-CSE
        # pitfall — O(dim²) map lookups per doc)
        bound = maps.select(F.col(id_col), dense.alias("_dense")).select(
            F.col(id_col),
            F.col("_dense"),
            F.sqrt(
                F.aggregate(
                    F.col("_dense"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias("_norm"),
        )
        feats = bound.select(
            F.col(id_col),
            F.transform(
                F.col("_dense"), lambda x: F.round(x / F.col("_norm"), 6)
            ).alias(out_col),
        )
    else:
        feats = maps.select(F.col(id_col), dense.alias(out_col))
    # blank docs produce no gram rows → absent from `feats` → NULL via
    # the left join, which IS the contract
    return df.join(feats, id_col, "left")


def train_text_probe(
    df: DataFrame,
    label_col: str = "label",
    dim: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    **probe_kwargs,
):
    """Convenience composition: featurize then
    ``train_logistic_probe`` — the end-to-end "train a quality/langid
    classifier on labeled raw text" recipe. Returns the trainer's
    ``(weights, bias, loss_history)``; wrap with
    ``inference.linear_probe_scorer`` and apply via
    ``score_text_probe``. Rows with NULL features (blank text) are
    excluded from training — the trainer's null-row policy made
    explicit at this level."""
    from .inference import train_logistic_probe

    feat = hashed_text_features(
        df, dim=dim, text_col=text_col, id_col=id_col
    )
    return train_logistic_probe(
        feat.filter(F.col("features").isNotNull()),
        vec_col="features",
        label_col=label_col,
        **probe_kwargs,
    )


def score_text_probe(
    df: DataFrame,
    scorer,
    dim: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "score",
) -> DataFrame:
    """Apply a trained text probe to raw text: featurize with the SAME
    hash/dim (the only coupling between train and score time — there
    is no vocabulary to ship) and ``batch_score`` with ``scorer``
    (``linear_probe_scorer(weights, bias)``). Blank docs score NULL."""
    from .inference import batch_score

    feat = hashed_text_features(
        df, dim=dim, text_col=text_col, id_col=id_col
    )
    return batch_score(feat, scorer, vec_col="features", out_col=out_col).drop(
        "features"
    )


def save_text_probe(path: str, weights, bias: float, dim: int) -> None:
    """Persist a trained text probe as a tiny JSON artifact (weights +
    bias + the featurization dim that MUST accompany them — scoring
    with a different dim is a silent wrong answer, so the artifact
    carries it). Replaces an artifact already at ``path``."""
    import json

    fs_delete(path)
    fs_write_atomic(
        path,
        json.dumps(
            {
                "dim": int(dim),
                "bias": float(bias),
                "weights": [float(x) for x in weights],
            }
        ).encode(),
    )


def load_text_probe(path: str):
    """Load a ``save_text_probe`` artifact → ``(weights, bias, dim)``
    (numpy weights, ready for ``linear_probe_scorer``). Validates the
    weights length against the recorded dim."""
    import json

    import numpy as np

    d = json.loads(fs_read_bytes(path))
    w = np.asarray(d["weights"], dtype=float)
    if len(w) != int(d["dim"]):
        raise ValueError(
            f"probe artifact corrupt: {len(w)} weights for dim {d['dim']}"
        )
    return w, float(d["bias"]), int(d["dim"])
