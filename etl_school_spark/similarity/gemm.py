"""Dense exact top-k cosine and near-dup pairs via Arrow-batched block
matrix multiply.

``brute_force_topk`` (knn.py) states the exact baseline relationally —
broadcast the query set, HOF-fold cosine per (query, corpus) pair. That
is the right declarative form and the oracle anchor, but per-pair
expression evaluation caps throughput. In the same broadcast regime (the
query block fits in executor memory) the identical computation is one
dense matrix product per corpus block: S = Q̂ · Ĉᵀ — a BLAS gemm over an
Arrow batch, orders of magnitude more arithmetic throughput than
row-expression evaluation.

Shape at scale:
- corpus partitions STREAM through ``mapInPandas`` as Arrow batches —
  the corpus is never materialized driver-side;
- the query block is collected once (bounded, |Q| « corpus — the same
  smallness contract ``F.broadcast`` asserts in brute_force_topk) and
  ships to executors inside the serialized closure;
- each batch emits only its local per-query top-k neighborhood, so the
  post-gemm shuffle is O(batches × |Q| × k) skinny rows; a final window
  merge produces the global top-k.

This is the one place Python-side compute beats Catalyst for this
engine: vectorized BLAS over Arrow batches, never row-at-a-time Python
(the plan shows MapInPandas, no BatchEvalPython).

Broadcast lifecycle (documented tradeoff + r8 opt-in hook): the
collected matrices ride ``sc.broadcast`` and are NOT eagerly destroyed —
the returned frame's closure owns them, so an automatic unpersist would
break re-execution (retries, AQE re-plans, a caller running the frame
twice). By default cleanup is the ContextCleaner's, once the frame is
garbage-collected; a session holding references to many result frames
holds their blocks (≤ ~67 MB each at the dense cap) until then. A
long-lived session that is DONE with a result can reclaim the blocks
immediately with ``destroy_broadcasts(df)`` — each result frame carries
its broadcast handles in ``df._esp_broadcasts``, and the helper destroys
them on request. After the call the frame is no longer executable (that
is the contract: call it only when done); sessions that prefer fully
automatic reclamation can instead lower
``spark.cleaner.periodicGC.interval`` (default 30min) so the
ContextCleaner notices dropped frames sooner.

Emitted scores are BIT-IDENTICAL to the relational baseline (r4): the
gemm result is used only to SELECT candidates (with a 1e-9 safety margin
that dwarfs the ~1e-14 float-reassociation gap), and the emitted score is
recomputed for the selected pairs in the engine's exact sequential fold
order — column-by-column accumulation over the raw double vectors, the
vectorized twin of ``functions.vectors.dot``/``l2_norm``. That makes
these operators registrable against the same DuckDB oracles as the
HOF-fold forms: same pairs, same doubles, same hash.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_school_spark.operators.setops import values_table

# gemm-vs-sequential-fold reassociation error for unit-norm dim≤4096
# doubles is ~1e-13; candidate selection keeps everything within this
# margin of the cut so the exact rescoring can never lose a true result
_SELECT_MARGIN = 1e-9


class DenseCapExceeded(ValueError):
    """cosine_pairs_dense's collected-corpus bound was exceeded at
    execution time. A dedicated type so dispatch.cosine_pairs_auto's
    stale-memo eviction catches exactly the cap overflow — any other
    ValueError from the dense branch propagates unmasked instead of
    being silently rerouted to the bucketed plan (r10 ADVICE item)."""


def _seq_fold_sum(P: np.ndarray) -> np.ndarray:
    """Row-wise sum of a (m × dim) matrix in strict LEFT-TO-RIGHT column
    order: acc ← acc + P[:,k] for k = 0..dim-1, each step one IEEE-754
    binary64 add. Bit-identical to Catalyst's
    ``aggregate(xs, 0.0D, (acc, x) -> acc + x)`` per row — the property
    that lets gemm-selected results share the HOF-fold oracle."""
    acc = np.zeros(P.shape[0], dtype=np.float64)
    for k in range(P.shape[1]):
        acc = acc + P[:, k]
    return acc


def _seq_norms(X: np.ndarray) -> np.ndarray:
    """sqrt of the sequential fold of squares — vectors.l2_norm, exactly."""
    return np.sqrt(_seq_fold_sum(X * X))


def _exact_scores(
    A: np.ndarray, B: np.ndarray, a_norms: np.ndarray, b_norms: np.ndarray
) -> np.ndarray:
    """Exact cosine for row-aligned pairs: dot/(na·nb) with the dot a
    sequential fold of elementwise products — vectors.cosine, exactly
    (multiply the norms first, then one divide)."""
    return _seq_fold_sum(A * B) / (a_norms * b_norms)


def blocked_shortlist_scores(
    qdf: pd.DataFrame, cdf: pd.DataFrame, local_k: int, block: int
) -> pd.DataFrame:
    """Shared per-group scorer for the cogroup ANN stages (knn.lsh_topk
    buckets, ivf.ivf_topk cells): score one pandas group of queries
    (query_id, qv, _nq) against one group of corpus members
    (neighbor_id, cv, _nc), block-tiling the CORPUS side so peak numpy
    allocation is O(|Qb| × block) — never O(|Qb| × |group|) (r9; groups
    are O(corpus/buckets) and unbounded at 100×). Each block is
    shortlisted locally (per-query top-``local_k`` under the inclusive
    _SELECT_MARGIN cut of the approximate BLAS scores) and the
    survivors rescored with the exact sequential fold, so emitted
    doubles are bit-identical to the declarative form and the output
    row set is invariant to ``block``: at most local_k-1 candidates
    anywhere beat a group-wide top-local_k member, so it survives the
    local cut of every block that contains it — per-block shortlist
    unions are supersets of the group-wide shortlist, and extra rows
    fall out of the caller's global rank window."""
    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "score_raw": pd.Series(dtype="float64"),
        }
    )
    if len(qdf) == 0 or len(cdf) == 0:
        return empty
    Q = np.array([list(v) for v in qdf["qv"]], dtype=np.float64)
    qn = qdf["_nq"].to_numpy(dtype=np.float64)
    Qn = Q / qn[:, None]
    q_ids = qdf["query_id"].to_numpy(dtype=np.int64)
    c_ids = cdf["neighbor_id"].to_numpy(dtype=np.int64)
    cn_all = cdf["_nc"].to_numpy(dtype=np.float64)
    parts = []
    for lo in range(0, len(cdf), block):
        hi = min(lo + block, len(cdf))
        C = np.array([list(v) for v in cdf["cv"].iloc[lo:hi]], dtype=np.float64)
        cn = cn_all[lo:hi]
        S = Qn @ (C / cn[:, None]).T  # approximate (BLAS fold order)
        m = min(local_k, S.shape[1])
        kth = np.partition(S, S.shape[1] - m, axis=1)[:, S.shape[1] - m]
        qi, ci = np.nonzero(S >= (kth[:, None] - _SELECT_MARGIN))
        if len(qi) == 0:
            continue
        score_exact = _seq_fold_sum(Q[qi] * C[ci]) / (qn[qi] * cn[ci])
        parts.append(
            pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": c_ids[lo:hi][ci],
                    "score_raw": score_exact,
                }
            )
        )
    if not parts:
        return empty
    return pd.concat(parts, ignore_index=True)


def blocked_pair_edges(
    pdf: pd.DataFrame, threshold: float, block: int
) -> pd.DataFrame:
    """Per-group all-pairs-≥-threshold scorer (r10): one pandas group of
    (vid, v, _n) rows — semantic_dedup's cell, or any blocking group —
    scored against itself with an upper-triangle blocked gemm.

    Same exactness contract as blocked_shortlist_scores, threshold form:
    each block pair's approximate BLAS scores select candidates at
    ``threshold − _SELECT_MARGIN`` (reassociation error is orders below
    the margin, so no qualifying pair is missed), then the exact
    sequential-fold cosine decides — emitted pairs are EXACTLY the pairs
    the declarative HOF-fold join emits, for any ``block``. Rows are
    sorted by vid first so position order is id order: block pairs
    (bi ≤ bj) with a strict upper-triangle mask on the diagonal emit
    each unordered pair once as (id_a < id_b). Peak numpy allocation is
    O(block²) plus the float64 copy of the group's vectors; the group
    frame itself is cell-sized (inherent to groupBy-applyInPandas —
    bounded by the caller's cell sizing, ⌈√n⌉ cells at the
    semantic_dedup default)."""
    empty = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
        }
    )
    # NULL embeddings can never form an edge (cosine undefined) — drop
    # them up front; the sql pair_form tolerates them the same way
    # (NULL join keys never match).
    pdf = pdf[pdf["v"].notna()]
    if len(pdf) < 2:
        return empty
    pdf = pdf.sort_values("vid")
    V = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
    ids = pdf["vid"].to_numpy(dtype=np.int64)
    norms = pdf["_n"].to_numpy(dtype=np.float64)
    Vn = V / norms[:, None]
    cut = threshold - _SELECT_MARGIN
    parts = []
    n = len(pdf)
    for lo_a in range(0, n, block):
        hi_a = min(lo_a + block, n)
        for lo_b in range(lo_a, n, block):
            hi_b = min(lo_b + block, n)
            S = Vn[lo_a:hi_a] @ Vn[lo_b:hi_b].T
            ai, bi = np.nonzero(S >= cut)
            if lo_a == lo_b:
                keep = ai < bi  # strict upper triangle on the diagonal
                ai, bi = ai[keep], bi[keep]
            if len(ai) == 0:
                continue
            ga, gb = ai + lo_a, bi + lo_b
            exact = _seq_fold_sum(V[ga] * V[gb]) / (norms[ga] * norms[gb])
            ok = exact >= threshold
            if not ok.any():
                continue
            parts.append(
                pd.DataFrame({"id_a": ids[ga[ok]], "id_b": ids[gb[ok]]})
            )
    if not parts:
        return empty
    return pd.concat(parts, ignore_index=True)


def gemm_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query, vectorized.

    Same output contract as knn.brute_force_topk:
    (query_id, neighbor_id, score, rank), self-match excluded, rank by
    (score desc, neighbor_id) — and since r4 the same BITS: gemm only
    shortlists (local top-(k+1) per batch plus a safety margin), the
    emitted score is the exact sequential-fold value, so this operator
    answers the identical oracle as the relational baseline.
    """
    from etl_school_spark.tables import fan_out

    # a single-file scan would stream the whole corpus through ONE
    # mapInPandas task (one core of BLAS); no-op when already parallel
    corpus = fan_out(corpus)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = _seq_norms(Q)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # the query block ships ONCE per executor as a broadcast variable,
    # not once per task in the closure
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, Q, q_norms, Qn))
    # +1 so a self-match inside a batch cannot evict a real neighbor
    # before the SQL-side self-filter runs
    local_k = k + 1

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, Q, q_norms, Qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            c_norms = _seq_norms(C)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Qn @ Cn.T  # |Q| × |batch|, approximate (BLAS fold order)
            m = min(local_k, S.shape[1])
            # keep everything within the margin of the per-query m-th
            # largest approx score: a superset of the exact local top-m
            kth = np.partition(S, S.shape[1] - m, axis=1)[:, S.shape[1] - m]
            sel_q, sel_c = np.nonzero(S >= (kth[:, None] - _SELECT_MARGIN))
            score = _exact_scores(
                Q[sel_q], C[sel_c], q_norms[sel_q], c_norms[sel_c]
            )
            yield pd.DataFrame(
                {
                    "query_id": q_ids[sel_q],
                    "neighbor_id": ids[sel_c],
                    "score": score,
                }
            )

    local = corpus.mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    out = (
        local.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
    out._esp_broadcasts = [bq]  # destroy_broadcasts hook (module docstring)
    return out


def cosine_pairs_dense(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 2048,
    max_blocks: int = 64,
) -> DataFrame:
    """All pairs (i < j) with cosine ≥ threshold, vectorized for the
    DENSE regime.

    ``knn.cosine_pairs_bucketed`` is the scale path when near-dups are
    sparse (LSH blocking prunes the pair space). But when the threshold
    is low or the corpus is near-uniform, the candidate set degenerates
    toward all pairs (the documented LSH worst case, knn.py) — and then
    the right physical form is a block matrix product, not per-pair
    expression evaluation: corpus partitions stream through
    ``mapInPandas`` as Arrow batches, each scored against the collected
    side X with chunked BLAS gemms S = B̂ · X̂ᵀ. Survivors are rescored
    with the exact sequential fold (see module docstring), so emitted
    (pair, score) rows are bit-identical to the HOF-fold baseline and
    share its oracle.

    Memory/scan contract (r4 shape — one job, one corpus scan): the
    corpus is collected ONCE, bounded by ``block × max_blocks`` rows
    (the dense-regime bound: 64 × 2048 × dim 64 ≈ 67 MB of doubles at
    the cap — driver- and executor-feasible by construction; a corpus
    past the bound is out of the dense regime by definition — use
    cosine_pairs_bucketed). X ships once per executor as a broadcast
    variable; the inner ``block``-column chunking bounds every score
    matrix at |batch| × block, so executor memory never sees an
    n²-shaped allocation. Each streamed row i scores against all j > i
    in X — every pair exactly once, no block ownership bookkeeping, no
    per-block job loop (the previous shape paid ⌈n/block⌉ collect jobs
    plus as many scans; measured ~1 s of pure scheduling at sf0.1).
    """
    from etl_school_spark.tables import fan_out

    emb = fan_out(emb)  # the streamed side feeds mapInPandas BLAS tasks
    rows = emb.select(id_col, vec_col).limit(block * max_blocks + 1).collect()
    n = len(rows)
    if n > block * max_blocks:
        raise DenseCapExceeded(
            f"cosine_pairs_dense capped at {max_blocks} × {block} "
            f"collected rows (corpus exceeds {block * max_blocks}); this "
            "corpus is out of the dense regime — use "
            "knn.cosine_pairs_bucketed, or raise block/max_blocks if "
            "memory allows"
        )
    if n < 2:
        return values_table(
            emb.sparkSession, [], "id_a long, id_b long, cosine_sim double"
        )
    x_ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(x_ids, kind="stable")
    x_ids = x_ids[order]
    X = np.array([list(rows[i][1]) for i in order], dtype=np.float64)
    x_norms = _seq_norms(X)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    bx = emb.sparkSession.sparkContext.broadcast((x_ids, X, x_norms, Xn))
    t = float(threshold)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        x_ids, X, x_norms, Xn = bx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            b_norms = _seq_norms(B)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
            for lo in range(0, len(x_ids), block):
                hi = min(lo + block, len(x_ids))
                S = Bn @ Xn[lo:hi].T  # |batch| × ≤block, approximate
                bi, xj = np.nonzero(
                    (S >= t - _SELECT_MARGIN)
                    & (ids[:, None] < x_ids[None, lo:hi])
                )
                if len(bi) == 0:
                    continue
                xj = xj + lo
                score = _exact_scores(B[bi], X[xj], b_norms[bi], x_norms[xj])
                keep = score >= t
                yield pd.DataFrame(
                    {
                        "id_a": ids[bi][keep],
                        "id_b": x_ids[xj][keep],
                        "cosine_sim": score[keep],
                    }
                )

    out = emb.mapInPandas(
        score_batches, schema="id_a long, id_b long, cosine_sim double"
    )
    out._esp_broadcasts = [bx]  # destroy_broadcasts hook (module docstring)
    return out


def destroy_broadcasts(df: DataFrame, blocking: bool = True) -> int:
    """Opt-in terminal cleanup for a gemm result frame: destroy the
    broadcast blocks the frame's closures own, NOW, instead of waiting
    for the ContextCleaner to notice the frame's garbage collection
    (module docstring, "Broadcast lifecycle"). Returns the number of
    broadcasts destroyed; 0 for frames with no registered broadcasts
    (including a frame already cleaned — the call is idempotent).

    CONTRACT: the frame must be DONE — destroyed blocks cannot be
    re-fetched, so any later action on the frame (or a frame derived
    from it) fails. That is exactly why this is a hook and not an
    automatic ``unpersist`` at return: only the caller knows when the
    last action has run.

    The ``_esp_broadcasts`` attribute lives on the exact Python
    DataFrame object the operator returned — it does NOT survive
    DataFrame transformations (``.filter``/``.select``/``.cache``
    return NEW objects without the hook), so calling this on a derived
    frame returns 0 WITHOUT freeing anything even though the derived
    frame's closures still reference the blocks. Keep a reference to
    the original returned frame and call the hook on that (pinned by
    test). IVF results carry no handles at all (centroids are plan
    literals, see ivf.ivf_topk docstring) — 0 there means "nothing to
    free", not a missed release."""
    handles = getattr(df, "_esp_broadcasts", None)
    if not handles:
        return 0
    n = 0
    for b in handles:
        b.destroy(blocking)
        n += 1
    df._esp_broadcasts = []
    return n
