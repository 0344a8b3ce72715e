"""In-engine TRAINED quality/language classifier — the supervised stage
of a corpus-filtering pipeline (GPT-3 / LLaMA / RefinedWeb all gate web
text with a lightweight linear classifier; CCNet pairs it with the LM
perplexity signal this repo already ships as ``doc_unigram_logprob``).

Reference parity note: the reference pipeline (validate_docs.py-style
quality gates) stops at heuristic filters; this module is the §7 Phase 5
extension that completes the standard filtering stack with a LEARNED
gate, expressed Spark-first.

The model is multinomial Naive Bayes over FEATURE-HASHED tokens, chosen
deliberately over gradient-trained alternatives because every step is a
relational aggregate — training is ONE map-side-combinable groupBy over
(bucket, class) and scoring is ONE broadcast join + ONE per-doc sum — so
the whole train-then-score composition is a pure deterministic function
of the corpus that a SQL oracle can restate exactly:

- tokens hash into ``n_buckets`` buckets via the md5 idiom every
  deterministic-sampling entry in this repo uses
  (``conv(substr(md5(tok),1,8),16,10) % n_buckets``) — cross-engine
  reproducible, unlike murmur3-based ``HashingTF``;
- per-bucket log-likelihood ratios are rounded to DECIMAL(18,6) BEFORE
  the per-document summation (the ``tfidf_cosine_topk`` canon), so every
  document score is an EXACT decimal sum — partition-order-invariant and
  bit-identical across engines; the only floats are the ``ln`` calls on
  (count+alpha)/(total+alpha*B) ratios, each rounded immediately;
- the train/score split is the deterministic md5 bucket split of
  ``train_val_test_split`` — a pure function of ``doc_id``.

Scale shape (the 100 TB story): the corpus is exploded to tokens once per
pass; training aggregates to at most ``2 * n_buckets`` rows (map-side
combined — the shuffle moves bucket partials, never token rows), the
model broadcasts (n_buckets rows, ~100 KB), and scoring shuffles the
corpus exactly once, on ``doc_id``, for the span sum. No all-pairs, no
driver-side state beyond the broadcast model, no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import tokens

#: hashed feature space; 4096 keeps the broadcast model ~100 KB while
#: leaving bucket collisions rare at testdata vocabulary sizes (the
#: classic feature-hashing trade-off — collisions only blur the model,
#: never break determinism)
DEFAULT_N_BUCKETS = 4096


def md5_bucket(col: Column, n_buckets: int) -> Column:
    """``conv(substr(md5(x),1,8),16,10) % n_buckets`` — the repo-wide
    deterministic hash idiom (stable across engines, partitionings, and
    runs; 8 hex chars = 32 bits, fits BIGINT exactly)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )


def nb_train(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB on ``docs`` with boolean ``label`` (positive
    class when true). Returns ``(model, prior)``:

    - ``model``: ``(bucket, llr DECIMAL(18,6))`` — per-bucket
      log-likelihood ratio ``ln(P(b|pos)) - ln(P(b|neg))`` with Laplace
      smoothing ``alpha`` (every bucket 0..n_buckets-1 that occurs in
      training; absent buckets contribute exactly 0 by the smoothing
      symmetry ONLY when their smoothed ratio is 1 — scoring therefore
      left-joins and coalesces to the rounded ``llr0`` baseline below);
    - ``prior``: 1 row ``(prior DECIMAL(18,6), llr0 DECIMAL(18,6))`` —
      the class-prior log odds ``ln(n_pos_docs/n_neg_docs)`` and the
      unseen-bucket baseline ``ln(alpha/(tot_pos+alpha*B)) -
      ln(alpha/(tot_neg+alpha*B))`` (nonzero whenever the class token
      masses differ — dropping it would bias short out-of-vocabulary
      docs toward the larger class).

    Both aggregates are map-side combinable; the shuffle carries at most
    ``2 * n_buckets`` partial rows per task. Token-occurrence counts
    (multinomial), not document frequencies.
    """
    lab = docs.select(F.col(id_col), label.alias("y"), F.col(text_col))
    tok = (
        lab.select("y", F.explode(tokens(text_col)).alias("tok"))
        .select("y", md5_bucket(F.col("tok"), n_buckets).alias("bucket"))
    )
    counts = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("n_neg"),
    )
    totals = counts.agg(
        F.sum("n_pos").alias("tot_pos"), F.sum("n_neg").alias("tot_neg")
    )
    a, b = F.lit(float(alpha)), F.lit(float(alpha * n_buckets))
    model = (
        counts.crossJoin(F.broadcast(totals))  # 1-row totals
        .select(
            "bucket",
            F.round(
                F.log((F.col("n_pos") + a) / (F.col("tot_pos") + b))
                - F.log((F.col("n_neg") + a) / (F.col("tot_neg") + b)),
                6,
            )
            .cast("decimal(18,6)")
            .alias("llr"),
        )
    )
    ndocs = lab.agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("d_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("d_neg"),
    )
    prior = ndocs.crossJoin(F.broadcast(totals)).select(
        F.round(F.log(F.col("d_pos") / F.col("d_neg")), 6)
        .cast("decimal(18,6)")
        .alias("prior"),
        F.round(
            F.log(a / (F.col("tot_pos") + b)) - F.log(a / (F.col("tot_neg") + b)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("llr0"),
    )
    return model, prior


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Score every document: ``(id_col, log_odds DECIMAL(25,6))`` where
    ``log_odds = prior + Σ_tokens llr(bucket(token))`` (unseen buckets
    contribute the smoothed ``llr0`` baseline). The model join is an
    explicit broadcast; the only corpus shuffle is the per-doc sum.
    Exact decimal arithmetic end-to-end — the score is a pure function
    of (corpus, model), whatever the partitioning.

    ``carry_cols`` (round 13) rides extra ``docs`` columns through the
    doc spine's aggregation, so callers who need, e.g., a label column
    next to the score don't pay a second corpus-keyed join to re-attach
    it.

    Round-13 shape (guide §2.4, one shuffle instead of three): the
    previous form pre-aggregated a (doc, bucket, tf) bag of words
    [shuffle 1], summed ``tf·llr`` per doc [shuffle 2], then left-joined
    the doc spine back to restore token-less docs [shuffles 3-4 of two
    doc-sized relations]. Summing ``llr`` once per token OCCURRENCE is
    the same exact-decimal total (``tf·llr = llr+…+llr``), so scoring is
    now explode → broadcast-probe → ONE map-side-combinable
    ``groupBy(doc)`` — the shuffle carries one partial-sum row per doc
    per map task, strictly fewer bytes than the old (doc, bucket)
    partials. ``explode_outer`` keeps token-less docs in the spine (their
    NULL token scores exactly 0, landing them on the prior — the value
    the old left join's NULL-coalesce produced). A/B at sf0.1/local[32]:
    1.50 s vs 2.59 s warm best-of-3, bit-identical output.
    """
    carry = list(carry_cols or [])
    tok = docs.select(
        id_col, *carry, F.explode_outer(tokens(text_col)).alias("tok")
    )
    return (
        tok.withColumn("bucket", md5_bucket(F.col("tok"), n_buckets))
        .join(F.broadcast(model), "bucket", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            *carry,
            "prior",
            F.when(F.col("tok").isNull(), F.lit(0).cast("decimal(18,6)"))
            .otherwise(F.coalesce(F.col("llr"), F.col("llr0")))
            .alias("w"),
        )
        .groupBy(id_col, *carry)
        .agg(
            (F.sum("w") + F.first("prior"))
            .cast("decimal(25,6)")
            .alias("log_odds")
        )
    )


def train_split(id_col: str = "doc_id", pct: int = 50) -> Column:
    """Deterministic md5 split predicate (the ``train_val_test_split``
    idiom): true for the ``pct``% training slice — a pure function of
    the id, stable across runs, partitionings, and engines."""
    return (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("bigint"),
            F.lit(100),
        )
        < pct
    )


def quality_classifier_scores(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
    train_pct: int = 50,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """End-to-end train-then-score: fit NB on the deterministic
    ``train_pct``% split against ``label``, score EVERY document
    (training docs included — the gate filters the whole corpus), and
    return ``(id_col, is_train, log_odds)``. Two passes over the corpus
    (one to train, one to score), both linear."""
    is_train = train_split(id_col, train_pct)
    model, prior = nb_train(
        docs.where(is_train), label, text_col, id_col, n_buckets
    )
    # pin the bounded model (≤ n_buckets + 1 rows) eagerly: prior feeds
    # two scoring branches and model one — without the pin the whole
    # training aggregation pass over the corpus re-runs per branch
    model = model.localCheckpoint(eager=True)
    prior = prior.localCheckpoint(eager=True)
    scores = nb_score(
        docs, model, prior, text_col, id_col, n_buckets, carry_cols
    )
    # is_train is a pure function of id_col (md5 split), so it is
    # RE-DERIVED on the scored rows instead of joined back from ``docs``
    # (round 13): the previous ``docs.join(scores, id_col)`` re-shuffled
    # the whole corpus a third time just to attach a recomputable bit.
    # ``scores`` carries exactly one row per doc (nb_score keeps every
    # doc in the spine via explode_outer — a token-less doc yields one
    # NULL-token row — and the one groupBy(doc) collapses back to one
    # row each), so the projection is row-for-row identical to the join.
    return scores.select(
        id_col,
        *(carry_cols or []),
        is_train.alias("is_train"),
        "log_odds",
    )


def admit_top_fraction(
    scores: DataFrame,
    frac: float,
    id_col: str = "doc_id",
    score_col: str = "log_odds",
) -> DataFrame:
    """Keep the top ``frac`` of documents by classifier score — the
    keep-RATE form of the gate (a corpus owner budgets "keep the best
    30%", not a raw log-odds threshold). Selection is by exact global
    rank under the total order ``(-score as double, id)``: rank k is a
    pure function of the corpus, so the admitted SET is deterministic
    and an oracle can restate it as one naive global window while the
    engine computes it with :func:`operators.ranking.global_rank` — the
    bucketed two-pass ranker with NO single-partition exchange (the same
    oracle-states-naive / engine-runs-distributed pattern as sequence
    packing). Cutoff count = ``ceil(frac * N)`` computed in IEEE double
    on both sides, so engine and oracle agree bit-for-bit even when
    ``frac * N`` lands on a representation boundary.
    """
    import math

    from .ranking import global_rank

    neg = scores.withColumn(
        "_neg", (-F.col(score_col)).cast("double")
    )
    rf = global_rank(neg, "_neg", [id_col])
    keep = math.ceil(frac * rf.n_total)
    return (
        rf.df.where(F.col("_rank") <= keep)
        .drop("_neg", "_bkt", "_rank")
    )


def pareto_lottery_admit(
    scores: DataFrame,
    alpha: float = 9.0,
    id_col: str = "doc_id",
    score_col: str = "log_odds",
    salt: str = "pareto",
) -> DataFrame:
    """The GPT-3 admission lottery (Brown et al. 2020, Appendix A),
    deterministic: a document is kept when a Pareto(alpha) draw exceeds
    ``1 - p`` where ``p = sigmoid(score)`` — high-quality docs are
    almost always kept, low-quality docs survive with small probability
    (preserving tail diversity instead of a hard cutoff). The "random"
    draw derives from the stable id via the repo's md5-uniform idiom
    (``u = (hash32 + 1) / 2^32`` — exact dyadic division, identical
    across engines) with inverse-CDF ``u^(-1/alpha) - 1``, so admission
    is a pure function of the row: reproducible across runs,
    partitionings, and engines, and restatable in SQL. Adds a ``p``
    column (admission probability, rounded to 4 for display); the
    decision itself uses unrounded doubles.
    """
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-F.col(score_col).cast("double"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ) / F.lit(4294967296.0)
    draw = F.pow(u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return (
        scores.withColumn("_p", p)
        .where(draw > F.lit(1.0) - F.col("_p"))
        .withColumn("p", F.round(F.col("_p"), 4))
        .drop("_p")
    )
