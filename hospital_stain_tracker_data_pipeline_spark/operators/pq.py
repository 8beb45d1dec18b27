"""Product quantization (PQ) for the embedding lake — the compression
tier BELOW SQ8 and the search tier that makes 100 TB ANN tractable.

SQ8 (``similarity.quantize_embeddings``) stores 1 byte per component
(4x vs float32). PQ stores ``m`` bytes per VECTOR: split each vector
into ``m`` subvectors, k-means each subspace into ``n_codes``
codewords, store only the per-subspace codeword ids (Jegou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
2011 — the IVF-PQ design every large-scale ANN system builds on). For
dim=64 float32 that is 256 B -> 8 B (32x). Search never reconstructs
vectors: ADC (asymmetric distance computation) turns a query into an
``(m, n_codes)`` table of per-subspace partial distances and scores a
corpus row with ``m`` table lookups.

Spark-first shapes, exact-integer arithmetic end-to-end:

- the fit mirrors ``ivf_fit_centroids``'s determinism contract
  (md5-ordered seeds, integer gemm assign, LONG-sum + floor-div
  update), but runs ALL ``m`` subspaces in one distributed pass per
  Lloyd iteration — the shuffle payload is the ``m x n_codes x dsub``
  codebook, never corpus rows;
- codes live as ``array<smallint>`` (m per-subspace ids) — parquet
  dictionary+RLE encodes them near the 1-byte ideal;
- ADC scoring stays on the corpus partitions: the per-query distance
  table is a driver-side ``q x m x n_codes`` int64 tensor (tiny — the
  same bytes the pre-round-15 broadcast-joined table frame shipped)
  and each candidate is scored with ``m`` numpy lookups inside one
  Arrow pass — no posexplode, no join, no (query, id) re-aggregation
  shuffle. Distances are exact int64 on the 1e-12 grid (squared
  L2 of 1e-6-quantized values), so results are bit-replayable by any
  engine and partitioning-invariant.

Reference parity: the reference app has no vector search at all —
this module is part of the training-data surface the build brief adds
beyond reference scope (SURVEY.md S2 "beyond-reference" block).
"""
from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import (
    fs_delete,
    fs_exists,
    fs_isdir,
    fs_read_bytes,
    fs_write_atomic,
)
from .dedup import (
    _artifact_compact,
    _artifact_remove,
    _refuse_crashed_swap,
    clear_index_lifecycle_state,
    fanout,
    materialize,
    suppress_index_tombstones,
)
from .similarity import (
    QUANT_SCALE,
    _quantized_ids,
    as_double_array,
    ivf_assign_udf,
    ivf_fit_centroids,
    load_ivf_index,
    quantize_vec_long,
    save_ivf_index,
)

__all__ = [
    "ann_index_drift",
    "pq_fit_codebooks",
    "knn_ivf_pq",
    "save_pq_index",
    "load_pq_index",
    "build_ann_index",
    "append_ann_index",
    "search_ann_index",
]

# Largest ADC lookup table (queries × subspaces × codes, int64) that
# ``_adc_table_np`` builds on the driver and broadcasts.
_ADC_TABLE_MAX_BYTES = 256 << 20


def _pq_codes_batch(
    x: np.ndarray, cb: np.ndarray, cnorm2: np.ndarray
) -> np.ndarray:
    """THE PQ assignment rule, shared by the encode UDF and the fit
    loop so they cannot diverge: per subspace the argmin of
    exact-integer ``|c|^2 - 2 x.c`` (the x-norm term is constant per
    row); numpy ``argmin`` takes the FIRST minimum, i.e. ties break to
    the lowest codeword id. ``x`` is (rows, m, dsub) int64; returns
    (rows, m) int64 codeword ids."""
    m = cb.shape[0]
    codes = np.empty((x.shape[0], m), dtype=np.int64)
    for s in range(m):
        score = cnorm2[s][None, :] - 2 * (x[:, s, :] @ cb[s].T)
        codes[:, s] = np.argmin(score, axis=1)
    return codes


def _pq_assign_udf(codebooks: np.ndarray):
    """Arrow-batched PQ assignment: QUANTIZED vectors (array<long>,
    ``quantize_vec_long``) -> ``array<smallint>`` of m per-subspace
    codeword ids (``_pq_codes_batch`` is the assignment rule — the
    same one the fit loop uses). All products stay below 2^53, so the
    gemm is exact and engine-independent."""
    from pyspark.sql.functions import pandas_udf

    cb = np.ascontiguousarray(codebooks, dtype=np.int64)
    m, _, dsub = cb.shape
    cnorm2 = (cb * cb).sum(axis=2)  # (m, k) int64, exact

    @pandas_udf("array<smallint>")
    def _assign(emb: pd.Series) -> pd.Series:
        arrs = emb.to_numpy()
        if not len(arrs):
            return pd.Series([], dtype=object)
        mask = np.array([a is not None for a in arrs])
        out = np.empty(len(arrs), dtype=object)
        out[~mask] = None
        if mask.any():
            x = np.stack(arrs[mask]).astype(np.int64).reshape(-1, m, dsub)
            codes = _pq_codes_batch(x, cb, cnorm2).astype("int16")
            for j, i in enumerate(np.nonzero(mask)[0]):
                out[i] = codes[j]
        return pd.Series(out)

    return _assign


def pq_fit_codebooks(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prepared: DataFrame | None = None,
) -> np.ndarray:
    """Fit the ``m`` per-subspace codebooks (Lloyd k-means on squared
    L2 within each subspace) fully distributed, ALL subspaces per
    pass; the driver only ever holds the (m, n_codes, dsub) codebook
    tensor. The vector dim must divide evenly by ``m``.

    Determinism (the ``ivf_fit_centroids`` contract, applied per
    subspace): seeds are the ``n_codes`` corpus vectors with the
    smallest ``(md5(id), id)``, codeword j of EVERY subspace starts
    from seed row j's subvector; assignment is exact-int argmin with
    ties to the lowest id; the update is a LONG sum + floor division
    on the 1e-6 grid, associative under any partitioning
    (``test_pq_fit_partitioning_determinism``). Empty codewords keep
    their previous value. Returns int64 (m, n_codes, dsub).
    ``prepared`` (round 14): a caller that already holds the
    ``_quantized_ids`` projection passes it here so the corpus is not
    re-read and re-quantized per fit."""
    src = (
        prepared
        if prepared is not None
        else materialize(_quantized_ids(df, id_col, vec_col))
    )
    first = src.select(F.size("_qv").alias("d")).first()
    if first is None:
        raise ValueError("no vectors to fit")
    dim = first["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    seed_rows = (
        src.withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(n_codes)
        .collect()
    )
    if len(seed_rows) < n_codes:
        raise ValueError(
            f"need >= {n_codes} vectors to seed, have {len(seed_rows)}"
        )
    cb = np.array([r["_qv"] for r in seed_rows], dtype=np.int64).reshape(
        n_codes, m, dsub
    ).transpose(1, 0, 2).copy()  # (m, k, dsub)
    # Round 15 (guide §2.3/§2.4): the update step used to posexplode
    # every vector into dim rows and shuffle a groupBy(sub, code,
    # possub) aggregation per iteration. Codeword sums are plain
    # integer reductions, so each task now computes its
    # (m, n_codes, dsub) partial-sum tensor and per-(sub, code) counts
    # INSIDE the same Arrow pass that assigns the batch (the
    # assignment rule is the shared ``_pq_codes_batch``, so fit and
    # encode cannot diverge), and the driver merges the per-task rows
    # in exact Python integers. One single-stage job per iteration, no
    # explode, no exchange; integer += is associative, so the
    # codebooks are BIT-IDENTICAL under any partitioning — the
    # ``test_pq_fit_partitioning_determinism`` contract is untouched.
    k = n_codes
    for _ in range(iters):
        cbl = np.ascontiguousarray(cb, dtype=np.int64)
        cnorm2 = (cbl * cbl).sum(axis=2)  # (m, k) int64, exact

        def _partials(batches):
            sums = np.zeros((m, k, dsub), dtype=np.int64)
            counts = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                arrs = [a for a in pdf["_qv"].to_numpy() if a is not None]
                if not arrs:
                    continue
                x = np.stack(arrs).astype(np.int64).reshape(-1, m, dsub)
                codes = _pq_codes_batch(x, cbl, cnorm2)
                for s in range(m):
                    np.add.at(sums[s], codes[:, s], x[:, s, :])
                    counts[s] += np.bincount(codes[:, s], minlength=k)
            sub_idx, code_idx = np.nonzero(counts)
            if not len(sub_idx):
                return  # empty partition — yield no batch at all
            yield pd.DataFrame(
                {
                    "sub": sub_idx.astype("int32"),
                    "code": code_idx.astype("int32"),
                    "n": counts[sub_idx, code_idx],
                    "s": pd.Series(
                        [
                            sums[s_, c_].tolist()
                            for s_, c_ in zip(sub_idx, code_idx)
                        ],
                        dtype=object,
                    ),
                }
            )

        rows = (
            src.select("_qv")
            .mapInPandas(_partials, "sub int, code int, n long, s array<long>")
            .collect()
        )
        agg: dict[tuple[int, int], tuple[int, list[int]]] = {}
        for r in rows:
            key = (r["sub"], r["code"])
            if key in agg:
                n0, s0 = agg[key]
                agg[key] = (n0 + r["n"], [a + b for a, b in zip(s0, r["s"])])
            else:
                agg[key] = (r["n"], list(r["s"]))
        # copy-then-overwrite: a (sub, code) with any assigned row is
        # fully rewritten; empty codewords keep their previous value
        new_cb = cb.copy()
        for (s_, c_), (n, svec) in agg.items():
            # Python // floor division — exact on the integer grid
            new_cb[s_, c_] = np.array(
                [v // n for v in svec], dtype=np.int64
            )
        cb = new_cb
    return cb


def _adc_table_np(
    query: DataFrame,
    codebooks: np.ndarray,
    query_id_col: str,
    vec_col: str,
):
    """The per-query ADC lookup table as a DRIVER-SIDE numpy tensor:
    ``(qids, tbl)`` with ``tbl[qi, sub, code]`` the
    exact-integer partial squared-L2 between query qi's quantized
    subvector and the codeword, on the 1e-12 grid. The table was
    ALWAYS broadcast-sized by construction (q × m × n_codes); before
    round 15 it was a driver-local FRAME whose broadcast build
    collected the same bytes to the driver anyway, re-evaluating the
    frame per build — computing it directly in numpy removes that
    frame plus the per-(sub, code) join that produced it. Queries with
    a NULL embedding are excluded (same as the old explode dropping
    them): their candidates score NULL and are filtered out.

    Exactness: |q-c| <= 2e6, so each partial is below dsub·4e12 —
    far below 2^53; the int64 arithmetic here is identical to the old
    zip_with/aggregate expression.

    The table is capped at ``_ADC_TABLE_MAX_BYTES``: the collect stops
    one query past the number that fits, and a larger query set raises
    ``ValueError`` naming the table's size."""
    cb = np.ascontiguousarray(codebooks, dtype=np.int64)
    m, kk, dsub = cb.shape
    per_query = m * kk * 8
    fits = max(1, _ADC_TABLE_MAX_BYTES // per_query)
    vecs = query.select(
        F.col(query_id_col).alias("_qid"),
        quantize_vec_long(F.col(vec_col)).alias("_qv"),
    ).filter(F.col("_qv").isNotNull())
    rows = vecs.limit(fits + 1).collect()
    if len(rows) > fits:
        n = vecs.count()
        raise ValueError(
            f"ADC lookup table for {n} queries x {m} subspaces x {kk} "
            f"codes is {n * per_query} bytes, over the driver limit of "
            f"{_ADC_TABLE_MAX_BYTES} bytes; search fewer queries at a time"
        )
    qids = []
    mats = []
    for r in rows:
        qids.append(r["_qid"])
        qv = np.asarray(r["_qv"], dtype=np.int64).reshape(m, dsub)
        diff = qv[:, None, :] - cb  # (m, k, dsub)
        mats.append((diff * diff).sum(axis=2))
    tbl = (
        np.stack(mats)
        if mats
        else np.zeros((0, m, kk), dtype=np.int64)
    )
    return qids, tbl


def _adc_topk(
    cand: DataFrame,
    qids: list,
    tbl: np.ndarray,
    k: int,
    id_col: str,
    query_id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """The one ADC scoring path: score each ``(query, id, pq_code)``
    candidate with ``m`` numpy table lookups inside one Arrow pass (the
    model-sized table rides the UDF closure, so no per-subspace
    explode, join or (query, id) re-aggregation shuffle is needed),
    then window top-k per query (distance ascending, ties to the
    lowest id). Integer sums are exact, so the distances — and the
    top-k — are the same under any engine and partitioning.

    ``exclude_self=True`` (the ``knn_ivf`` convention, right when the
    queries ARE corpus rows) drops rows where query id == corpus id
    BEFORE the window, so a self-match never consumes one of the k
    slots. Pass False when the query-id domain is external to the
    corpus: there a coincidental numeric id collision would silently
    discard a real nearest neighbor."""
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    m = tbl.shape[1]
    sub_idx = np.arange(m)
    qindex = {q: i for i, q in enumerate(qids)}

    @pandas_udf("long")
    def _score(qid: pd.Series, pcodes: pd.Series) -> pd.Series:
        out = np.empty(len(qid), dtype=object)
        if len(qid):
            qi = qid.map(qindex)
            cod = pcodes.to_numpy()
            valid = qi.notna().to_numpy() & np.array(
                [c is not None for c in cod], dtype=bool
            )
            if valid.any():
                c = np.stack(cod[valid]).astype(np.int64)
                qiv = qi.to_numpy()[valid].astype(np.int64)
                vals = tbl[qiv[:, None], sub_idx[None, :], c].sum(
                    axis=1
                )
                for j, i in enumerate(np.nonzero(valid)[0]):
                    out[i] = int(vals[j])
        return pd.Series(out)

    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        _score(F.col(query_id_col), F.col("pq_code")).alias("_adc"),
    ).filter(F.col("_adc").isNotNull())
    if exclude_self:
        scored = scored.filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("_adc"), F.asc(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            query_id_col,
            id_col,
            F.round(F.col("_adc") / F.lit(QUANT_SCALE * QUANT_SCALE), 6)
            .alias("adc_dist"),
        )
    )


def save_pq_index(spark, codebooks: np.ndarray, path: str) -> None:
    """Persist fitted codebooks as a tiny parquet table ``(sub int,
    code int, pos int, val long, m int, n_codes int, dsub int)`` —
    the same nightly-fit / load-everywhere artifact convention as
    ``save_ivf_index``: exact 1e-6-grid integers, engine-portable,
    versioned by path."""
    from ..session import local_rows_df

    m, k, dsub = codebooks.shape
    rows = [
        (int(s), int(c), int(p), int(v), int(m), int(k), int(dsub))
        for s in range(m)
        for c in range(k)
        for p, v in enumerate(codebooks[s, c])
    ]
    local_rows_df(
        spark,
        rows,
        "sub int, code int, pos int, val long, m int, n_codes int, "
        "dsub int",
    ).write.mode("overwrite").parquet(path)


def load_pq_index(spark, path: str) -> np.ndarray:
    """Inverse of ``save_pq_index``; validates density against the
    declared (m, n_codes, dsub) so a truncated or duplicated artifact
    fails loudly here, not as silent wrong codes downstream (the
    ``load_ivf_index`` contract)."""
    df = spark.read.parquet(path)
    val_type = df.schema["val"].dataType.simpleString()
    if val_type not in ("bigint", "int"):
        raise ValueError(
            f"PQ index at {path} has non-integer val column "
            f"({val_type}) — not a quantized-fit artifact"
        )
    rows = df.collect()
    if not rows:
        raise ValueError(f"empty PQ index at {path}")
    m, k, dsub = (
        int(rows[0]["m"]),
        int(rows[0]["n_codes"]),
        int(rows[0]["dsub"]),
    )
    if len(rows) != m * k * dsub:
        raise ValueError(
            f"PQ index at {path} is not dense: {len(rows)} cells != "
            f"{m}x{k}x{dsub}"
        )
    seen = set()
    out = np.zeros((m, k, dsub), dtype=np.int64)
    for r in rows:
        cell = (r["sub"], r["code"], r["pos"])
        if (
            not (0 <= cell[0] < m and 0 <= cell[1] < k and 0 <= cell[2] < dsub)
            or cell in seen
        ):
            raise ValueError(
                f"PQ index at {path} is not dense: cell {cell} out of "
                "range or duplicated"
            )
        seen.add(cell)
        out[cell] = r["val"]
    return out


def _pq_error_udf(codebooks: np.ndarray):
    """Arrow-batched PQ quantization error: QUANTIZED vectors
    (array<long>) -> per-row total squared L2 between the vector and
    its codeword reconstruction, summed over all ``m`` subspaces, in
    1e-12 grid units (LONG). Exact integer arithmetic: per subspace
    ``min_c(|c|^2 - 2 x.c) + |x_s|^2`` — the same gemm as
    ``_pq_assign_udf`` plus the row-norm term the argmin drops. Grid
    components are <= ~1e6 so a per-row error tops out around
    ``dim * (2e6)^2`` ~ 2.6e14 for dim 64 — far below 2^63."""
    from pyspark.sql.functions import pandas_udf

    cb = np.ascontiguousarray(codebooks, dtype=np.int64)
    m, _, dsub = cb.shape
    cnorm2 = (cb * cb).sum(axis=2)  # (m, k) int64, exact

    @pandas_udf("long")
    def _err(emb: pd.Series) -> pd.Series:
        arrs = emb.to_numpy()
        if not len(arrs):
            return pd.Series([], dtype="Int64")
        mask = np.array([a is not None for a in arrs])
        out = np.full(len(arrs), None, dtype=object)
        if mask.any():
            x = np.stack(arrs[mask]).astype(np.int64).reshape(-1, m, dsub)
            tot = np.zeros(x.shape[0], dtype=np.int64)
            for s in range(m):
                score = cnorm2[s][None, :] - 2 * (x[:, s, :] @ cb[s].T)
                tot += score.min(axis=1) + (x[:, s, :] ** 2).sum(axis=1)
            for j, i in enumerate(np.nonzero(mask)[0]):
                out[i] = int(tot[j])
        return pd.Series(out, dtype="Int64")

    return _err


def _encode_quantized(
    src: DataFrame,
    cents: np.ndarray,
    cb: np.ndarray,
    id_col: str,
    with_err: bool = False,
) -> DataFrame:
    """The IVF-PQ encode projection every production path runs
    (``build_ann_index``, ``append_ann_index``, ``ann_index_drift``,
    ``knn_ivf_pq``): ``(id, cell, pq_code)`` over a ``(_id, _qv)``
    quantized frame (``_quantized_ids``'s shape), plus the per-row PQ
    quantization error ``_err`` with ``with_err``. Tests pin it
    against ``_encode_cells``, the reference form."""
    cols = [
        F.col("_id").alias(id_col),
        ivf_assign_udf(cents)(F.col("_qv")).alias("cell"),
        _pq_assign_udf(cb)(F.col("_qv")).alias("pq_code"),
    ]
    if with_err:
        cols.append(_pq_error_udf(cb)(F.col("_qv")).alias("_err"))
    return src.select(*cols)


def _cell_stats(encoded: DataFrame) -> DataFrame:
    """Per-IVF-cell ``(cell, n, err_sum)`` over an encoded frame
    carrying ``_err``: row count and exact total PQ quantization error
    (decimal(38,0) sum of the per-row LONG error, order-invariant).
    Model-sized output — at most ``n_clusters`` rows. Both the
    fit-time baseline under ``<path>/stats`` and the batch side of
    every drift report are this aggregation."""
    return encoded.groupBy("cell").agg(
        F.count("*").alias("n"),
        F.sum(F.col("_err").cast("decimal(38,0)")).alias("err_sum"),
    )


def _stats_map(stats: DataFrame) -> dict:
    """``{cell: (n, err_sum)}`` collected from a ``_cell_stats``-shaped
    frame (a batch's stats or the persisted fit-time baseline)."""
    return {
        int(r["cell"]): (int(r["n"]), int(r["err_sum"]))
        for r in stats.collect()
    }


def _encode_cells(
    corpus: DataFrame,
    cents: np.ndarray,
    cb: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, pq_code) for every corpus vector — the REFERENCE
    implementation of the IVF-PQ encode projection. The production
    paths run ``_encode_quantized`` over their shared quantized pass
    (plus an ``_err`` column where stats ride along) instead of
    calling it; tests pin that helper against this form, so a change
    here must be mirrored there (and vice versa). NULL embeddings are
    dropped (nothing to search)."""
    return (
        fanout(corpus)
        .select(
            F.col(id_col),
            quantize_vec_long(F.col(vec_col)).alias("_qv"),
        )
        .filter(F.col("_qv").isNotNull())
        .select(
            id_col,
            ivf_assign_udf(cents)(F.col("_qv")).alias("cell"),
            _pq_assign_udf(cb)(F.col("_qv")).alias("pq_code"),
        )
    )


def _ann_meta(path: str, action: str) -> dict:
    """The metadata in an ANN artifact's ``_INDEX_OK`` marker (the fit
    parameters, ``id_col``, the append/remove/compact counters). Every
    operation on the artifact reads it first: a missing marker means
    a torn artifact (a build or append did not finish) or no index at
    all, and raises instead of serving a silently-wrong ivf/pq/codes
    mix. The marker stays on through remove and compact, so a crash
    between compact's two swap renames (``codes`` missing, the last
    copy in ``codes_old`` / ``codes_compacting``) raises here too,
    naming ``recover_index_swap``: an append there would otherwise
    write a ``codes`` holding only the delta."""
    _refuse_crashed_swap(path, action)
    marker = f"{path}/_INDEX_OK"
    if not fs_exists(marker):
        raise ValueError(
            f"{path} has no _INDEX_OK marker — cannot {action} it "
            "(_INDEX_OK missing: a build or append did not finish, or "
            "no index was built here); rebuild with build_ann_index"
        )
    return json.loads(fs_read_bytes(marker))


def _commit_ann_meta(path: str, meta: dict) -> None:
    """Write the ``_INDEX_OK`` marker: the last step of every
    operation that changes an ANN artifact. Remove and compact replace
    a marker that is on."""
    marker = f"{path}/_INDEX_OK"
    fs_delete(marker)
    fs_write_atomic(marker, json.dumps(meta).encode())


def build_ann_index(
    corpus: DataFrame,
    path: str,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The nightly-fit half of a persistent IVF-PQ index: fit the
    coarse quantizer and product codebooks ONCE per corpus version and
    write the complete search-ready artifact under ``path`` —
    ``path/ivf`` (centroids, ``save_ivf_index``), ``path/pq``
    (codebooks, ``save_pq_index``), and ``path/codes`` (the encoded
    corpus ``(id, cell, pq_code)``, ~``m`` bytes + an id per vector).
    ``search_ann_index`` then answers queries WITHOUT touching the raw
    embedding lake — the artifact is the 100 TB serving shape: raw
    embeddings are read exactly once (here), every later search scans
    only the byte codes of the probed cells.

    The three sub-artifacts are mutually dependent (codes are only
    meaningful under THEIR centroids/codebooks), so the build is
    marker-committed: the ``_INDEX_OK`` marker is removed before any
    overwrite and written only after all three land — a crash
    mid-rebuild leaves a loudly-rejected torn artifact instead of a
    silently-wrong mixed one. A rebuild starts takedown-free: the old
    index's tombstones and swap leftovers are cleared
    (``clear_index_lifecycle_state``) before the marker commits the
    new one."""
    spark = corpus.sparkSession
    fs_delete(f"{path}/_INDEX_OK")
    # ONE quantized pass over the raw corpus serves both fits, the
    # encode AND the stats baseline (round 14; guide §2.4) — the
    # pre-round-14 build re-read and re-quantized the corpus four
    # times (ivf fit, pq fit, encode, stats). The assign/error UDFs
    # likewise run once here instead of once for the codes pass and
    # again for the stats pass; the codes and stats tables are
    # projections/aggregations of the same checkpointed frame, with
    # values identical to the separate-pass form (same UDFs, same
    # exact-integer inputs).
    src = materialize(_quantized_ids(corpus, id_col, vec_col))
    cents = ivf_fit_centroids(
        corpus, n_clusters, iters, id_col, vec_col, prepared=src
    )
    cb = pq_fit_codebooks(
        corpus, m, n_codes, iters, id_col, vec_col, prepared=src
    )
    save_ivf_index(spark, cents, f"{path}/ivf")
    save_pq_index(spark, cb, f"{path}/pq")
    encoded = materialize(
        _encode_quantized(src, cents, cb, id_col, with_err=True)
    )
    encoded.select(id_col, "cell", "pq_code").write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    # fit-time per-cell occupancy + quantization error — the drift
    # baseline every later append_ann_index compares its batch against
    _cell_stats(encoded).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/stats"
    )
    clear_index_lifecycle_state(path)
    _commit_ann_meta(
        path,
        {
            "n_clusters": n_clusters,
            "m": m,
            "n_codes": n_codes,
            "iters": iters,
            "id_col": id_col,
            "appends": 0,
        },
    )


def append_ann_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    err_ratio_threshold: float = 2.0,
    occupancy_shift_threshold: float = 0.25,
) -> dict:
    """Incremental half of the persistent IVF-PQ index: encode a delta
    batch (a daily crawl's new embeddings) under the EXISTING
    centroids/codebooks and append it to ``path/codes`` — the whole
    embedding lake is never re-read, which is the difference between
    O(delta) and O(100 TB) for a nightly refresh. ``search_ann_index``
    then serves (build + appends) transparently: the codes table just
    has more rows.

    Because the fits are frozen, append quality decays as the corpus
    distribution drifts away from fit time. The returned DRIFT REPORT
    quantifies that against the fit-time baseline ``build_ann_index``
    persisted under ``path/stats``:

    - ``occupancy_shift_tv``: total-variation distance between the
      fit-time per-cell occupancy distribution and the delta batch's
      (0 = identical routing, 1 = disjoint cells);
    - ``err_ratio``: the delta's mean PQ quantization error over the
      fit-time mean — new content the codebooks can't represent shows
      up here before recall visibly degrades;
    - ``refit_recommended``: True when either exceeds its threshold —
      the operator's signal to schedule a full ``build_ann_index``.

    Marker discipline matches the build: the delta is fully validated
    and its stats computed BEFORE ``_INDEX_OK`` is removed, so bad
    input never tears the artifact; the marker is rewritten (with
    ``appends`` incremented) only after the codes append lands — a
    crash mid-append leaves a loudly-rejected torn artifact.

    The delta frame must carry the id column the index was built with
    (the marker records it) plus ``vec_col``. Appended ids are NOT
    dedup'd against existing codes — run the corpus dedup tier first
    (`dedup_against_corpus`), same as the build's contract."""
    meta = _ann_meta(path, "append to")
    id_col = meta["id_col"]
    missing = [c for c in (id_col, vec_col) if c not in new_vectors.columns]
    if missing:
        raise ValueError(
            f"delta frame lacks column(s) {missing} — the index at "
            f"{path} was built with id_col={id_col!r}"
        )
    if not fs_isdir(f"{path}/stats"):
        raise ValueError(
            f"{path} has no fit-time stats (pre-append-era artifact) — "
            "rebuild with build_ann_index to enable appends"
        )
    cents = load_ivf_index(spark, f"{path}/ivf")
    cb = load_pq_index(spark, f"{path}/pq")
    # ONE eager pass over the delta serves validation, stats AND the
    # codes append (round 14 — was a checkpoint of the raw delta plus
    # two separate UDF passes): the materialize pins the snapshot and
    # forces the whole batch through the assign/error UDFs, so
    # wrong-dim or corrupt vectors still fail HERE — before the marker
    # comes off — and the stats collect / codes write below are a
    # model-sized aggregation and a flat projection of the same frame.
    src = _quantized_ids(new_vectors.select(id_col, vec_col), id_col, vec_col)
    encoded = materialize(
        _encode_quantized(src, cents, cb, id_col, with_err=True)
    )
    new_stats = _stats_map(_cell_stats(encoded))
    fit_stats = _stats_map(spark.read.parquet(f"{path}/stats"))
    n_new = sum(n for n, _ in new_stats.values())
    if n_new:
        fs_delete(f"{path}/_INDEX_OK")
        encoded.select(id_col, "cell", "pq_code").write.mode(
            "append"
        ).parquet(f"{path}/codes")
        meta["appends"] = int(meta.get("appends", 0)) + 1
        _commit_ann_meta(path, meta)
    report = _drift_report(
        fit_stats, new_stats, err_ratio_threshold, occupancy_shift_threshold
    )
    report["appended"] = n_new
    report["appends"] = int(meta.get("appends", 0))
    return report


def _drift_report(
    fit_stats: dict,
    new_stats: dict,
    err_ratio_threshold: float,
    occupancy_shift_threshold: float,
) -> dict:
    """Assemble the drift report ``append_ann_index`` and
    ``ann_index_drift`` share, from two ``{cell: (n, err_sum)}``
    maps (fit-time baseline vs the probed batch)."""
    n_new = sum(n for n, _ in new_stats.values())
    n_fit = sum(n for n, _ in fit_stats.values())
    cells = sorted(set(fit_stats) | set(new_stats))
    tv = 0.0
    per_cell = []
    for c in cells:
        fit_frac = fit_stats.get(c, (0, 0))[0] / n_fit if n_fit else 0.0
        new_frac = new_stats.get(c, (0, 0))[0] / n_new if n_new else 0.0
        tv += abs(fit_frac - new_frac)
        per_cell.append(
            {
                "cell": c,
                "fit_frac": round(fit_frac, 6),
                "append_frac": round(new_frac, 6),
            }
        )
    # an empty batch routed nothing: its occupancy shift is 0 by
    # definition, not the 0.5 the raw formula would report (which would
    # trip a dashboard alerting on the 0.25 threshold for a no-op append)
    tv = round(tv / 2.0, 6) if n_new else 0.0
    fit_err = (
        sum(e for _, e in fit_stats.values()) / n_fit if n_fit else 0.0
    )
    new_err = (
        sum(e for _, e in new_stats.values()) / n_new if n_new else 0.0
    )
    # err_ratio is None when the fit baseline is exactly 0 (corpus ==
    # codewords, degenerate); any nonzero batch error then recommends
    # a refit outright
    err_ratio = round(new_err / fit_err, 6) if fit_err else None
    refit = n_new > 0 and (
        tv > occupancy_shift_threshold
        or (err_ratio is not None and err_ratio > err_ratio_threshold)
        or (err_ratio is None and new_err > 0)
    )
    return {
        "fit_n": n_fit,
        "fit_mean_err": round(fit_err, 3),
        "append_mean_err": round(new_err, 3),
        "err_ratio": err_ratio,
        "occupancy_shift_tv": tv,
        "cells": per_cell,
        "refit_recommended": refit,
    }


def ann_index_drift(
    spark,
    path: str,
    vectors: DataFrame,
    vec_col: str = "embedding",
    err_ratio_threshold: float = 2.0,
    occupancy_shift_threshold: float = 0.25,
) -> dict:
    """Read-only drift probe: the ``append_ann_index`` drift report
    WITHOUT mutating the index — route a sample of current vectors
    through the frozen centroids/codebooks and compare per-cell
    occupancy + quantization error against the fit-time baseline. The
    monitoring half of the refit loop: a cron probes yesterday's
    embeddings nightly and schedules a full ``build_ann_index`` when
    ``refit_recommended`` flips, without waiting for an append to
    notice. Needs only ``vec_col`` on the input (no ids — nothing is
    encoded or written); ``appended`` in the report counts the probed
    vectors."""
    meta = _ann_meta(path, "probe")
    if not fs_isdir(f"{path}/stats"):
        raise ValueError(
            f"{path} has no fit-time stats (pre-append-era artifact) — "
            "rebuild with build_ann_index to enable drift probes"
        )
    if vec_col not in vectors.columns:
        raise ValueError(
            f"probe frame lacks column {vec_col!r} — pass vec_col= "
            "matching your embedding column (the append-path contract)"
        )
    cents = load_ivf_index(spark, f"{path}/ivf")
    cb = load_pq_index(spark, f"{path}/pq")
    # the probe carries no ids: a NULL stand-in fills the projection's
    # id slot, and the per-cell aggregate prunes it (with pq_code)
    src = _quantized_ids(
        vectors.withColumn("_id", F.lit(None)), "_id", vec_col
    )
    new_stats = _stats_map(
        _cell_stats(_encode_quantized(src, cents, cb, "_id", with_err=True))
    )
    fit_stats = _stats_map(spark.read.parquet(f"{path}/stats"))
    report = _drift_report(
        fit_stats, new_stats, err_ratio_threshold, occupancy_shift_threshold
    )
    report["appended"] = sum(n for n, _ in new_stats.values())
    report["appends"] = int(meta.get("appends", 0))
    return report


def remove_from_ann_index(
    spark,
    path: str,
    ids: DataFrame,
    compact_ratio_threshold: float = 0.1,
) -> dict:
    """Deletions for the persistent index — the lifecycle piece
    takedowns and dedup-driven retractions need at 100 TB, where
    "rebuild the index" is a night of cluster time but "stop serving
    these ids" must land in minutes. Tombstones the ids through the
    package's one index-lifecycle engine (``dedup._artifact_remove``;
    ``<path>/tombstones`` beside ``codes``); ``search_ann_index``
    anti-joins them, so removed ids stop appearing immediately while
    the (expensive) codes table is untouched — the vacuum-analog
    write-amplification deferral. ``compact_ann_index`` later folds
    tombstones into codes when the ratio passes a threshold.

    ``ids`` is a DataFrame carrying the index's id column (the marker
    records its name — fail-fast otherwise); unknown ids tombstone
    harmlessly (the anti-join ignores them) but inflate the reported
    ratio, so feed takedown lists already intersected with the corpus
    where possible. A torn artifact (no ``_INDEX_OK``) is refused.
    The fits and codes do not change, so the marker stays on; its
    ``removes`` counter is bumped once the tombstones have landed.

    Contract note: a tombstone suppresses its id even if the same id
    is APPENDED again later — compaction would fold the re-append away
    too. Re-adding a previously removed id requires compacting first
    (tombstones then clear). The returned report carries the shared
    lifecycle keys (``requested`` / ``tombstones_total`` /
    ``index_rows`` / ``tombstone_ratio`` / ``compact_recommended``)
    plus ``removes``, so a cron can chain the compaction."""
    meta = _ann_meta(path, "remove from")
    report = _artifact_remove(
        spark, path, ids, meta["id_col"],
        compact_ratio_threshold=compact_ratio_threshold,
    )
    if report["requested"]:
        meta["removes"] = int(meta.get("removes", 0)) + 1
        _commit_ann_meta(path, meta)
    report["removes"] = int(meta.get("removes", 0))
    return report


def compact_ann_index(
    spark,
    path: str,
    min_ratio: float = 0.1,
    force: bool = False,
) -> dict:
    """Fold tombstones into the codes table — the index's vacuum,
    run by the package's one index-lifecycle engine
    (``dedup._artifact_compact``): rewrite ``codes`` minus tombstoned
    ids into ``codes_compacting``, count-validate it against an
    independently derived survivor count, swap it in through
    ``codes_old``, clear the tombstones, and return the before/after
    accounting (``index_rows_before`` / ``index_rows_after`` /
    ``folded_tombstones``, plus ``compactions``). Deferred by default:
    the rewrite costs a full codes-table pass, so it only runs when
    the tombstone ratio has reached ``min_ratio`` (or ``force=True``)
    — below that, the per-search anti-join is cheaper than the
    rewrite.

    A torn artifact (no ``_INDEX_OK``) is refused. The fits do not
    change, so the marker stays on; a crash inside the swap leaves
    ``codes`` missing with the last copy in ``codes_old`` or
    ``codes_compacting``, which ``recover_index_swap(path)`` restores
    (``index_fsck`` reports it as ``crashed_swap``; every ANN
    operation refuses until then). ``compactions``
    is bumped once the swap commits. Single-writer contract (shared
    with append/remove): a concurrent append between the read and the
    swap is NOT detected — serialize lifecycle ops per artifact.
    Search results are identical before and after (pinned by test):
    compaction changes storage, never semantics."""
    meta = _ann_meta(path, "compact")
    report = _artifact_compact(spark, path, meta["id_col"], min_ratio, force)
    if report["compacted"]:
        meta["compactions"] = int(meta.get("compactions", 0)) + 1
        _commit_ann_meta(path, meta)
    report["compactions"] = int(meta.get("compactions", 0))
    return report


def search_ann_index(
    spark,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """The serving half of ``build_ann_index``: load the persisted
    centroids/codebooks/codes from ``path`` and ADC-search the query
    frame — ``(query_id, <id>, adc_dist)``, the ``k`` nearest per
    query. Identical results to an in-process ``knn_ivf_pq`` with the
    same parameters (the fits are deterministic; pinned by test). The
    raw corpus embeddings are never read. ``exclude_self`` defaults
    OFF here — index queries usually come from an external id domain
    (see ``_adc_topk``); turn it on when querying the corpus with
    itself.

    The corpus id column is whatever ``build_ann_index`` encoded (the
    codes table's non-``cell``/``pq_code`` column). Ids tombstoned by
    ``remove_from_ann_index`` are anti-joined out of the candidate set
    here (``suppress_index_tombstones``, the same suppression every
    index loader runs), so takedowns stop serving immediately, before
    any ``compact_ann_index`` folds them into the codes table.

    Precondition: every id appears at most once in the codes table.
    ``append_ann_index`` does not dedup appended ids against existing
    codes, and the top-k here (``_adc_topk``) ranks rows, not ids — an
    id present twice fills two of a query's ``k`` slots. Dedup a delta
    against the index before appending it."""
    _ann_meta(path, "search")
    cents = load_ivf_index(spark, f"{path}/ivf")
    cb = load_pq_index(spark, f"{path}/pq")
    codes = spark.read.parquet(f"{path}/codes")
    rest = [c for c in codes.columns if c not in ("cell", "pq_code")]
    if (
        len(rest) != 1
        or "cell" not in codes.columns
        or "pq_code" not in codes.columns
    ):
        raise ValueError(
            f"{path}/codes has columns {codes.columns} — expected "
            "exactly (id, cell, pq_code) from build_ann_index"
        )
    id_col = rest[0]
    codes = suppress_index_tombstones(spark, path, codes, id_col)
    return _ivf_pq_search(
        query, cents, cb, codes, k, nprobe, id_col, query_id_col, vec_col,
        exclude_self,
    )


def _ivf_pq_search(
    query: DataFrame,
    cents: np.ndarray,
    cb: np.ndarray,
    codes: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    query_id_col: str,
    vec_col: str,
    exclude_self: bool,
) -> DataFrame:
    """ADC top-``k`` of each query over the ``(id, cell, pq_code)``
    codes of its ``nprobe`` nearest IVF cells — the search half shared
    by ``search_ann_index`` (persisted codes) and ``knn_ivf_pq``
    (in-process codes)."""
    probes = query.select(
        F.col(query_id_col),
        as_double_array(F.col(vec_col)).alias("_pv"),
    ).select(
        query_id_col,
        F.explode(
            ivf_assign_udf(cents, nprobe=nprobe)(
                quantize_vec_long(F.col("_pv"))
            )
        ).alias("cell"),
    )
    qids, tbl = _adc_table_np(query, cb, query_id_col, vec_col)
    # self-exclusion happens once, inside _adc_topk (before its top-k
    # window) — no duplicate pre-filter on the candidate join
    cand = probes.join(codes, "cell").select(query_id_col, id_col, "pq_code")
    return _adc_topk(
        cand, qids, tbl, k, id_col, query_id_col, exclude_self
    )


def knn_ivf_pq(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    timings: dict | None = None,
) -> DataFrame:
    """IVF-PQ: the full Jegou-et-al composition — coarse IVF cells
    bound WHICH rows are scored, PQ/ADC bounds WHAT scoring a row
    costs. The 100 TB search shape: probe ``nprobe`` of ``n_clusters``
    cells (~nprobe/n_clusters of the corpus) and score each candidate
    with ``m`` byte-table lookups instead of a ``dim``-wide float dot.

    Codebooks are fit on the raw subvectors (no residual encoding —
    documented simplification vs the paper's residual variant; at
    these cell counts the residual win is marginal and the non-residual
    fit keeps ONE codebook tensor shared by every cell, which is what
    makes the distance table per query, not per (query, cell)).
    Returns ``(query_id, vec_id, adc_dist)``; self-matches excluded
    like ``knn_ivf`` (``exclude_self=False`` for external-query
    domains — see ``_adc_topk``).

    ``timings``: pass a dict to receive ``fit_sec`` / ``encode_sec``
    wall times for the eager phases (the fits collect model-sized
    artifacts; the encode materializes the coded corpus). The returned
    frame is only the lazy ADC-search plan, so a caller timing its own
    action measures the scale-relevant search tier in isolation —
    nightly fit noise no longer hides a search regression."""
    import time as _time

    t0 = _time.perf_counter()
    # one quantized pass shared by both fits and the encode (round 14,
    # same reasoning as build_ann_index)
    src = materialize(_quantized_ids(corpus, id_col, vec_col))
    cents = ivf_fit_centroids(
        corpus, n_clusters, iters, id_col, vec_col, prepared=src
    )
    cb = pq_fit_codebooks(
        corpus, m, n_codes, iters, id_col, vec_col, prepared=src
    )
    t1 = _time.perf_counter()
    encoded = materialize(_encode_quantized(src, cents, cb, id_col))
    if timings is not None:
        timings["fit_sec"] = round(t1 - t0, 3)
        timings["encode_sec"] = round(_time.perf_counter() - t1, 3)
    return _ivf_pq_search(
        query, cents, cb, encoded, k, nprobe, id_col, query_id_col,
        vec_col, exclude_self,
    )
