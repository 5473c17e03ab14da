"""Deterministic sampling / splitting for training-data pipelines.

``sample()``/``sampleBy()`` draw per-partition pseudo-random numbers, so
results change with partitioning and retries. Pipelines need the
opposite: membership decided by a pure function of the ROW KEY, so any
engine, any partitioning, any retry yields the same sample, and
train/test never leak rows across re-runs.

Mechanism: compare a fixed-width hex prefix of md5(key) against a
threshold. md5 is identical everywhere (vs xxhash64, which is
Spark-private), string comparison avoids integer-conversion dialect
differences, and 4 hex chars give 1/65536 granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_school_spark.operators.setops import values_table

_WIDTH = 4  # hex chars → 16-bit buckets
_BUCKETS = 16**_WIDTH


def hash_bucket(key: Column | str) -> Column:
    """The row's sampling coordinate: first 4 hex chars of md5(key)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(c.cast("string")), 1, _WIDTH)


def threshold_hex(fraction: float) -> str | None:
    """Hex threshold t such that P(bucket < t) ≈ fraction (exact:
    floor(fraction·65536)/65536).

    Returns ``None`` for fraction >= 1, meaning "keep everything": no
    4-hex-char threshold can admit the max bucket 'ffff' (a 5-char
    '10000' compares LOWER than 'ffff' lexicographically and would keep
    only ~1/16 of rows). Sub-1 fractions that round up to 65536 cap at
    'ffff' (P = 65535/65536)."""
    if fraction >= 1:
        return None
    return format(max(0, min(_BUCKETS - 1, round(fraction * _BUCKETS))), f"0{_WIDTH}x")


def keep_condition(key: Column | str, fraction: float) -> Column:
    """Boolean membership column for a deterministic ``fraction`` sample."""
    t = threshold_hex(fraction)
    if t is None:
        return F.lit(True)
    return hash_bucket(key) < F.lit(t)


def deterministic_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ≈``fraction`` of rows, membership a pure function of ``key``."""
    return df.filter(keep_condition(key, fraction))


def train_test_split(df: DataFrame, key: str, train_fraction: float = 0.9) -> DataFrame:
    """Assign a stable 'train'/'test' split column keyed on ``key``."""
    return df.withColumn(
        "split",
        F.when(keep_condition(key, train_fraction), "train").otherwise("test"),
    )


def quota_sample(df: DataFrame, key: str, class_col: str, fractions: dict[str, float]) -> DataFrame:
    """Class-rebalancing sample: keep a different deterministic fraction
    per class (e.g. downsample the dominant language, keep all of the
    rare ones). Classes absent from ``fractions`` are dropped. Membership
    is still a pure function of (key), so rebalanced corpora are
    reproducible."""
    expr = None
    for cls, frac in fractions.items():
        cond = (F.col(class_col) == cls) & keep_condition(key, frac)
        expr = cond if expr is None else (expr | cond)
    return df.filter(expr)


def shard_id(key: Column | str, n_shards: int) -> Column:
    """Deterministic shard assignment: md5-derived 60-bit int mod
    ``n_shards``. A pure function of the row key, so a re-run, a different
    partitioning, or a different engine produces the same shard layout
    (the same property as ``hash_bucket``, widened to an integer)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    return h % F.lit(n_shards)


def reshard(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """Deterministic global shuffle/interleave into ``n_shards`` balanced
    output shards — the write-layout op for training corpora.

    Adds ``shard`` (md5-keyed shard id) and physically repartitions by it,
    sorting each shard by hash order (``hash_bucket``, key). Shard
    MEMBERSHIP and intra-shard ORDER are pure functions of the keys: any
    engine re-running the pipeline produces identical shard CONTENT.
    Note the physical mapping is ``hash(shard) % n_shards`` (Spark hash-
    partitions the shard id), so a task may hold zero or several shard
    values and part-file names/UUIDs differ across runs —
    ``partitionBy("shard")`` at write time (pipeline.write_corpus_shards)
    is what restores one directory per shard and makes the per-shard
    files byte-comparable. One shuffle total; at 100 TB this is the
    single pass that turns a crawl-ordered corpus into training-ready
    interleaved shards (crawl order is heavily clustered by domain/time;
    hash order is the cheap uniform interleave).
    """
    out = df.withColumn("shard", shard_id(key, n_shards))
    return out.repartition(n_shards, "shard").sortWithinPartitions(
        hash_bucket(key), key
    )


def pack_concat_windows(
    df: DataFrame,
    key: str,
    token_col: str,
    capacity: int,
    n_shards: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    layout: within each shard, documents are deterministically ordered
    (hash order), conceptually concatenated, and sliced into fixed
    ``capacity``-token context windows.

    Emits per-document ``shard``, ``first_window`` and ``last_window``
    (the window span the doc's tokens land in) from an EXCLUSIVE running
    token sum — one window function per shard, no iteration, no UDF.
    Zero-token docs are pinned to one window (``greatest(tokens, 1)``)
    so spans never invert. Integer division throughout: the running sum
    exceeds 2^53 long before a 100 TB corpus runs out, so float floor()
    would mis-bin where exact ``div`` cannot.

    ``n_shards`` is ALSO the parallelism unit — each shard's running sum
    is one window partition, i.e. one task. The test registry uses 8 for
    a 5 000-doc table; at corpus scale size it like output files,
    ~O(corpus_bytes / 1 GiB) shards (a 100 TB corpus → ~100 k shards),
    which keeps every cumsum task small AND gives the training job its
    file-level shuffle granularity. Shard count changes the layout, not
    correctness — membership stays a pure per-key function.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(hash_bucket(key), key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = F.col(token_col).cast("long")
    # a pre-assigned `shard` column (e.g. from reshard()) is reused, so a
    # frame already hash-partitioned on it satisfies the window's
    # clustering and plans NO second exchange — recomputing the same
    # expression via withColumn would hide the equivalence from Catalyst
    # and re-shuffle the full rows (text included)
    out = df if "shard" in df.columns else df.withColumn(
        "shard", shard_id(key, n_shards)
    )
    out = out.withColumn("_cum_before", F.sum(tok).over(w) - tok)
    out = out.withColumn("_last_tok", F.col("_cum_before") + F.greatest(tok, F.lit(1)) - F.lit(1))
    return (
        out.withColumn("first_window", F.expr(f"_cum_before div {capacity}"))
        .withColumn("last_window", F.expr(f"_last_tok div {capacity}"))
        .drop("_cum_before", "_last_tok")
    )


def mixture_sample(
    df: DataFrame,
    key: str,
    class_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Epoch-weighted mixture sampling — the data-mixing op behind
    published pretraining recipes (e.g. 2.5 epochs of wiki, 1 epoch of
    web, 0.4 of a noisy crawl): weight w of a class yields floor(w) FULL
    copies of every row plus a deterministic frac(w) sample as the final
    partial epoch. Classes absent from ``weights`` (or weighted 0) are
    dropped.

    Adds an ``epoch`` column (0-based copy index). The partial-epoch
    membership hash is seeded with the epoch (md5 of "key:epoch"), so
    partial epochs of different weights draw independent subsets, and —
    as with every sampler here — membership is a pure row-key function:
    any engine, partitioning, or retry builds the identical mixture.

    Scale shape: one broadcast join against the |classes|-row weight
    table + an explode of at most ceil(max(w)) epochs — linear scan,
    no shuffle.
    """
    spark = df.sparkSession
    rows = []
    for cls, w in weights.items():
        k_full = int(w)  # floor for non-negative weights
        frac = w - k_full
        rows.append((cls, k_full, threshold_hex(frac) if frac > 0 else None))
    wtab = values_table(
        spark, rows, f"{class_col} string, _k_full int, _thresh string"
    )
    n_ep = F.col("_k_full") + F.when(F.col("_thresh").isNotNull(), 1).otherwise(0)
    ep_hash = hash_bucket(
        F.concat(F.col(key).cast("string"), F.lit(":"), F.col("epoch").cast("string"))
    )
    return (
        df.join(F.broadcast(wtab), class_col)
        .withColumn(
            "epoch",
            F.explode(
                F.when(n_ep > 0, F.sequence(F.lit(0), n_ep - 1)).otherwise(
                    F.array().cast("array<int>")
                )
            ),
        )
        .filter((F.col("epoch") < F.col("_k_full")) | (ep_hash < F.col("_thresh")))
        .drop("_k_full", "_thresh")
    )
