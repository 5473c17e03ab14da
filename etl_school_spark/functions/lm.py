"""N-gram language-model perplexity — the CCNet-style model-based corpus
quality signal (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", 2020: documents are ranked by
the perplexity of a small LM trained on a trusted reference corpus; low
perplexity ≈ fluent prose, high ≈ boilerplate, menus, gibberish).

This is the signal the rule battery (functions/corpus.py) cannot
express: heuristics measure surface statistics, a reference LM measures
how much a document LOOKS LIKE the corpus you trust. Both engines of the
classic pipeline are here, distributed end to end:

- TRAIN (``train_bigram_lm``): tokenize the reference corpus, take the
  top ``vocab_size`` types (rest → <unk>), count bigrams with a per-doc
  lag window (document boundaries never produce cross-doc bigrams), and
  derive context totals. The model is a pair of DataFrames — it can be
  millions of rows and never touches the driver; persist the frames or
  write them as tables to reuse across jobs.
- SCORE (``perplexity_scores``): map each scored document through the
  SAME vocab, join its bigrams against the model (plain equi-joins —
  Spark broadcasts them when small, shuffles when not), and aggregate
  add-k-smoothed log-probabilities per document:

      P(w2 | w1) = (c(w1,w2) + k) / (c(w1,·) + k·V)
      ppl(doc)   = exp( − mean over bigrams of ln P )

  Unseen bigrams and unseen contexts fall through the coalesce(…, 0)
  to the smoothed floor — no special-casing, no driver-side model.

At 100 TB: training is one explode + two groupBys over the (much
smaller) reference corpus; scoring is a tokenize scan, one window per
document (shuffle on doc id), and two joins against model tables —
linear in the corpus with model-sized build sides.

Reference analog: none (the engine's training-data extension).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_school_spark.functions.text import tokens
from etl_school_spark.operators.setops import values_table

UNK = "<unk>"


@dataclass
class BigramLM:
    """The trained model: all-DataFrame, persistable as plain tables."""

    vocab: DataFrame  # (w)                 top-N reference types
    bigrams: DataFrame  # (w1, w2, c)       reference bigram counts
    contexts: DataFrame  # (w1, c1)         Σ_w2 c(w1, w2)
    v: int  # smoothing vocabulary size (vocab + <unk>)
    k: float  # add-k constant


def _mapped_bigrams(
    docs: DataFrame, id_col: str, text_col: str, vocab: DataFrame
) -> DataFrame:
    """(doc id, w1, w2) bigram rows with out-of-vocab tokens mapped to
    <unk>; the lag window is per document, so no bigram crosses a
    document boundary.

    The posexplode + per-doc lag-window shape is KEPT by measurement
    (r8): an expression-side alternative — zip the token array with its
    own 1-shifted slice into (wa, wb) structs, explode once, map vocab
    with two broadcast joins, no window shuffle — benched ~equal at
    sf0.1 but ~2.7x SLOWER at sf1 (7.9 vs 3.0 s train+score warm):
    higher-order-function lambdas build the pair structs interpreted,
    row by row, while posexplode and the window sort are codegen'd and
    the token rows they shuffle are skinny. Same lesson as the
    dedup_clusters/simhash shape work: HOF array construction loses to
    exchange-based operators once data, not plan overhead, dominates."""
    rows = docs.select(
        F.col(id_col).alias("_id"), F.posexplode(tokens(text_col)).alias("pos", "w")
    )
    vm = F.broadcast(vocab.withColumn("_v", F.lit(True)))
    mapped = rows.join(vm, "w", "left").select(
        "_id",
        "pos",
        F.when(F.col("_v"), F.col("w")).otherwise(F.lit(UNK)).alias("tok"),
    )
    w = Window.partitionBy("_id").orderBy("pos")
    return (
        mapped.withColumn("w1", F.lag("tok").over(w))
        .filter(F.col("w1").isNotNull())
        .select("_id", "w1", F.col("tok").alias("w2"))
    )


def train_bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    k: float = 1.0,
) -> BigramLM:
    """Train on the trusted reference corpus. Deterministic: the vocab is
    the top ``vocab_size`` types by (count desc, token) — ties break
    lexicographically, so retraining reproduces the same model."""
    from etl_school_spark.tables import fan_out

    # tokenize+explode is the pre-shuffle cost of both passes; the model
    # is invariant to partitioning (_rid values change but stay unique
    # per row, and all aggregations key on tokens, not _rid)
    ref_docs = fan_out(ref_docs)
    with_id = ref_docs.withColumn("_rid", F.monotonically_increasing_id())
    uni = (
        with_id.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = uni.orderBy(F.desc("c"), "w").limit(vocab_size).select("w")
    bg = _mapped_bigrams(with_id, "_rid", text_col, vocab)
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    contexts = bigrams.groupBy("w1").agg(F.sum("c").alias("c1"))
    return BigramLM(vocab=vocab, bigrams=bigrams, contexts=contexts,
                    v=vocab_size + 1, k=k)


def perplexity_scores(
    docs: DataFrame,
    lm: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, ppl, n_bigrams) per document with ≥ 2 tokens (shorter
    documents have no bigram evidence and are absent — callers left-join
    and decide their fate). Lower ppl = closer to the reference corpus.
    """
    from etl_school_spark.tables import fan_out

    bg = _mapped_bigrams(fan_out(docs), id_col, text_col, lm.vocab)
    joined = (
        bg.join(lm.bigrams, ["w1", "w2"], "left")
        .join(lm.contexts, "w1", "left")
        .withColumn(
            "_logp",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(lm.k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(lm.k * lm.v))
            ),
        )
    )
    return (
        joined.groupBy("_id")
        .agg(
            F.exp(-F.avg("_logp")).alias("ppl"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .select(F.col("_id").alias(id_col), "ppl", "n_bigrams")
    )


def self_perplexity_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 50_000,
    k: float = 1.0,
) -> DataFrame:
    """Train-on-self + score in ONE bigram pass — the CCNet
    self-perplexity shape (reference corpus == scored corpus), fused
    (r15, guide §2.4: two operations keyed the same way share one
    exchange).

    ``train_bigram_lm(docs)`` + ``perplexity_scores(docs, lm)`` runs the
    tokenize → posexplode → vocab-map → per-doc lag window chain TWICE —
    once keyed by a synthetic ``_rid`` for training, once by ``id_col``
    for scoring — and the non-deterministic ``monotonically_increasing_id``
    defeats exchange reuse between them. The bigram multiset is a pure
    function of the corpus (every ``id_col`` value is unique per row,
    and the model counts never reference the doc key), so ONE
    ``id_col``-keyed bigram stream serves both: model counts aggregate
    over it, scoring joins against those counts on the SAME stream.
    The tokenize+explode scan below the ``_id`` exchange is then shared
    via ReusedExchange instead of executing twice, and one full window
    sort disappears from the plan. Counts — and therefore every emitted
    ppl double — are identical to the two-pass form (the per-doc lag
    window produces the same bigrams whatever unique key partitions it);
    the DuckDB oracle is unchanged.

    Returns the ``perplexity_scores`` contract: (id_col, ppl, n_bigrams)
    for documents with ≥ 2 tokens."""
    from etl_school_spark.tables import fan_out

    docs = fan_out(docs)
    uni = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = uni.orderBy(F.desc("c"), "w").limit(vocab_size).select("w")
    bg = _mapped_bigrams(docs, id_col, text_col, vocab)
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    contexts = bigrams.groupBy("w1").agg(F.sum("c").alias("c1"))
    v = vocab_size + 1
    joined = (
        bg.join(bigrams, ["w1", "w2"], "left")
        .join(contexts, "w1", "left")
        .withColumn(
            "_logp",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k * v))
            ),
        )
    )
    return (
        joined.groupBy("_id")
        .agg(
            F.exp(-F.avg("_logp")).alias("ppl"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .select(F.col("_id").alias(id_col), "ppl", "n_bigrams")
    )


def save_bigram_lm(lm: BigramLM, path: str) -> None:
    """Persist the model as plain parquet tables (vocab/bigrams/contexts)
    plus a one-row meta table carrying (v, k) — the durable form a
    continual-ingestion loop scores against (streaming/corpus.py). The
    frames never pass through the driver; meta is two scalars."""
    lm.vocab.write.mode("overwrite").parquet(f"{path}/vocab")
    lm.bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")
    lm.contexts.write.mode("overwrite").parquet(f"{path}/contexts")
    spark = lm.vocab.sparkSession
    values_table(spark, [(lm.v, float(lm.k))], "v long, k double").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def load_bigram_lm(spark, path: str) -> BigramLM:
    """Load a model persisted by ``save_bigram_lm``. The returned frames
    are ordinary parquet scans — scoring joins read them fresh, so a
    retrained model at the same path is picked up by the next batch."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return BigramLM(
        vocab=spark.read.parquet(f"{path}/vocab"),
        bigrams=spark.read.parquet(f"{path}/bigrams"),
        contexts=spark.read.parquet(f"{path}/contexts"),
        v=int(meta.v),
        k=float(meta.k),
    )


def ppl_gate(
    docs: DataFrame,
    lm: BigramLM,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style model gate: drop documents whose perplexity against
    the reference model exceeds ``max_ppl``. Documents too short to carry
    bigram evidence have no score and pass through — the rule battery's
    length bound is the authority on those. The ONE gate implementation,
    shared by the batch build (pipeline.build_corpus) and the streaming
    loop (streaming/corpus.py foreachBatch) so their acceptance decisions
    agree by construction."""
    scores = perplexity_scores(docs, lm, id_col, text_col)
    return (
        docs.join(scores.select(id_col, "ppl"), id_col, "left")
        .filter(F.col("ppl").isNull() | (F.col("ppl") <= max_ppl))
        .drop("ppl")
    )


def py_reference_perplexity(
    ref_texts: list[str], texts: list[str], vocab_size: int, k: float = 1.0
) -> list[float | None]:
    """Independent pure-Python twin of train+score, used by the property
    test (tests/test_properties.py) — same tokenization (the same
    whitespace class as text.WS_CLASS, duplicated here so the twin stays
    independent; the property test asserts the two classes match), same
    vocab tie-break, same smoothing."""
    import re

    def toks(s: str) -> list[str]:
        s = s.strip(" ")
        return re.split("[ \t\n\x0b\f\r]+", s) if s else [""]

    from collections import Counter

    uni = Counter(w for t in ref_texts for w in toks(t))
    vocab = {w for w, _ in sorted(uni.items(), key=lambda x: (-x[1], x[0]))[:vocab_size]}

    def mapped(t: str) -> list[str]:
        return [w if w in vocab else UNK for w in toks(t)]

    big: Counter = Counter()
    ctx: Counter = Counter()
    for t in ref_texts:
        ws = mapped(t)
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
            ctx[a] += 1
    v = vocab_size + 1
    out: list[float | None] = []
    for t in texts:
        ws = mapped(t)
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            out.append(None)
            continue
        lp = [
            math.log((big.get(p, 0) + k) / (ctx.get(p[0], 0) + k * v)) for p in pairs
        ]
        out.append(math.exp(-sum(lp) / len(lp)))
    return out
