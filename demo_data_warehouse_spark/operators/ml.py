"""Distributed in-engine model fitting (exact fixed-point variants).

The training-data engine occasionally needs to FIT small models inside
the pipeline itself — quality-filter classifiers (fastText-style
filters are logistic regressions over hashed features), calibration
heads, IVF/PQ codebooks. MLlib's float implementations are
merge-order-dependent from the first reduction; these variants pin the
arithmetic so the fitted model is bit-identical under any partitioning
— which is what lets a DuckDB oracle replay the whole training loop.

Companion pieces: operators/similarity.py::kmeans_fixed (unsupervised),
ivf_train_centroids / pca_fit_project (driver-bounded fits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tdiv(a: int, b: int) -> int:
    """SQL integer division: truncation toward zero (python // floors)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def logreg_gd_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col,
    dim: int,
    iters: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact full-batch gradient descent for logistic regression
    (η=0.5), bit-reproducible under any partitioning.

    Determinism contract (micro-unit fixed point, scale=1e6):
      - features x_q = round(v·1e6) as bigint; weights w_q / bias b_q
        held in micro-units, initialized to 0;
      - the margin S = Σ_j w_qj·x_qj is an EXACT int64 sum (headroom:
        |w_q|·|x_q|·d ≲ 10¹⁵);
      - z = S/1e12 + b_q/1e6 and p = σ(z) are per-row scalar doubles
        (no accumulation — engines agree to the ulp; the residual is
        frozen at r = round((p−y)·1e6) before any sum);
      - gradients G_j = Σ r·x_qj and G_b = Σ r are exact int64 sums at
        any merge order;
      - updates w_q ← w_q − tdiv(G_j, 2n·1e6), b_q ← b_q − tdiv(G_b, 2n)
        use TRUNCATED division (toward zero) — the SQL integer-division
        semantic shared by Spark `div` and DuckDB `//`; python `//`
        floors on negatives, so the driver-side fold must not use it.

    Scale: each iteration is one narrow map against broadcast weight
    literals + one map-side-combined aggregation; the driver folds
    exactly d+1 ints per iteration into the next round's literals —
    the same bounded-driver contract as kmeans_fixed. Facts are never
    collected.

    Returns (j, w_micro): j ∈ [0, dim) the weights, j = dim the bias,
    j = dim+1 the training-accuracy numerator (#correct at the final
    weights — sign(z) is a PURE INTEGER comparison S + b_q·1e6 ≥ 0, so
    the accuracy is exact, not float-thresholded).
    """
    q = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, v -> cast(round(cast(v as double) * {scale}) as bigint))"
        ).alias("x"),
        label_col.cast("bigint").alias("y"),
    )
    # One materialization of the narrow quantized frame: the loop issues
    # iters+2 separate actions (count, one gradient collect per
    # iteration, final accuracy), and without a plan cut each would
    # re-run the source scan + quantization. Lazy: the count() below is
    # the sole next consumer and materializes the blocks itself.
    q = q.localCheckpoint(eager=False)
    n = q.count()
    w = [0] * dim
    b = 0

    def margin(weights):
        return F.aggregate(
            F.zip_with(
                F.col("x"),
                F.array(*[F.lit(int(wj)) for wj in weights]),
                lambda a, c: a * c,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    for _ in range(iters):
        z = margin(w) / F.lit(float(scale) ** 2) + F.lit(b) / F.lit(float(scale))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = F.round((p - F.col("y")) * F.lit(float(scale))).cast("bigint")
        grads = (
            q.select(r.alias("r"), "x")
            .agg(
                F.sum("r").alias("gb"),
                *[
                    F.sum(F.col("r") * F.element_at("x", j + 1)).alias(f"g{j}")
                    for j in range(dim)
                ],
            )
            .collect()[0]
        )
        w = [w[j] - _tdiv(int(grads[f"g{j}"]), 2 * n * scale) for j in range(dim)]
        b = b - _tdiv(int(grads["gb"]), 2 * n)

    correct = q.select(
        F.when(
            ((margin(w) + F.lit(b).cast("bigint") * F.lit(scale).cast("bigint")) >= 0)
            == (F.col("y") == 1),
            1,
        )
        .otherwise(0)
        .alias("c")
    ).agg(F.sum("c").alias("n_correct"))
    n_correct = int(correct.collect()[0]["n_correct"])

    spark = df.sparkSession
    rows = [(j, int(w[j])) for j in range(dim)] + [
        (dim, int(b)),
        (dim + 1, n_correct),
    ]
    return spark.createDataFrame(rows, "j bigint, w_micro bigint")


def naive_bayes_fixed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> DataFrame:
    """Exact multinomial Naive Bayes (add-one smoothing), trained and
    scored in-engine — the classical corpus classifier (language ID,
    topic routing, spam filtering) behind learned quality filters.

    Exactness contract (the reason this can be hash-gated where MLlib's
    NaiveBayes cannot): every log-probability is a SCALAR ln of a
    rational frozen to micro-units per (label, term) —
        logp_micro = round(ln((c_lt + 1)/(T_l + V))·1e6),
        prior_micro = round(ln(N_l / N)·1e6)
    — and a document's score is prior + Σ tf·logp, a pure int64 sum:
    exact at any merge order, so the argmax (ties → smallest label) is
    deterministic and engine-portable.

    Scale: training is the (label, term) census — the word-count shape,
    map-side combined; the smoothed |labels|×|vocab| grid is broadcast;
    scoring joins each (doc, term) posting to |labels| grid rows, so
    the shuffle carries postings×|labels|, never docs×vocab.

    Returns the confusion matrix (true_label, pred_label, n_docs).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("true_label"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    tf = toks.groupBy("id", "true_label", "term").agg(F.count("*").alias("tf"))
    # training censuses
    c_lt = toks.groupBy(F.col("true_label").alias("label"), "term").agg(
        F.count("*").alias("c")
    )
    t_l = c_lt.groupBy("label").agg(F.sum("c").alias("t"))
    vocab = toks.select("term").distinct()
    v = vocab.count()
    n_l = df.groupBy(F.col(label_col).alias("label")).agg(F.count("*").alias("n_l"))
    n = df.count()
    prior = n_l.select(
        "label",
        F.round(F.log(F.col("n_l").cast("double") / F.lit(float(n))) * 1e6)
        .cast("bigint")
        .alias("prior_micro"),
    )
    # complete smoothed grid: every (label, term), unseen pairs c=0
    grid = (
        t_l.crossJoin(vocab)
        .join(c_lt, ["label", "term"], "left")
        .select(
            "label",
            "term",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.col("t") + F.lit(v)).cast("double")
                )
                * 1e6
            )
            .cast("bigint")
            .alias("logp_micro"),
        )
    )
    scores = (
        tf.join(F.broadcast(grid), "term")
        .groupBy("id", "true_label", "label")
        .agg(F.sum(F.col("tf") * F.col("logp_micro")).alias("ll"))
        .join(F.broadcast(prior), "label")
        .select(
            "id",
            "true_label",
            "label",
            (F.col("ll") + F.col("prior_micro")).alias("score_micro"),
        )
    )
    # argmax score = argmin (-score, label): a window-free groupBy over
    # the |labels|-wide struct min — ties break to the smallest label
    pred = (
        scores.groupBy("id", "true_label")
        .agg(
            F.min(F.struct((-F.col("score_micro")).alias("neg"), F.col("label"))).alias(
                "b"
            )
        )
        .select("id", "true_label", F.col("b.label").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(F.count("*").alias("n_docs"))


def dbscan_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.35,
    min_pts: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """Density-based clustering (DBSCAN) over an embedding corpus with
    cosine similarity — cluster discovery that, unlike k-means, needs
    no k, finds arbitrary-shaped clusters, and labels sparse points as
    NOISE (the property that matters for corpus curation: dense blobs
    are templates/near-dup families, noise is the long tail you keep).

    Neighborhood = exact cosine > threshold, candidates restricted to
    banded sign-LSH buckets (operators/dedup.py::embed_cosine_pairs_lsh
    — equi-join on (band, bucket), never |n|²; recall for true
    near-dups ≈ 0.998, the documented LSH contract). From the verified
    pair graph everything is exact and deterministic:
      core    := ≥ min_pts neighbors (incl. self);
      cluster := connected component of the core-core subgraph
                 (min-label propagation, operators/graph.py);
      border  := non-core with ≥1 core neighbor → smallest core
                 neighbor's cluster;
      noise   := the rest (cluster NULL).

    Scale: pair generation is the LSH equi-join; everything after runs
    on the PAIR graph (dedup-scale, not corpus-scale). Returns
    (id, role ∈ core|border|noise, cluster nullable).
    """
    from . import dedup as dedup_ops
    from . import graph as graph_ops

    pairs = dedup_ops.embed_cosine_pairs_lsh(
        df, id_col, vec_col, threshold=threshold, dim=dim,
        bands=bands, rows_per_band=rows_per_band,
    )
    # eager on purpose: sym's blocks feed THREE consumers (degree
    # census, core-edge join, border join) that can run concurrently in
    # the first downstream job — a lazy checkpoint lets each recompute
    # the LSH pair generation before blocks land (measured r12:
    # nondeterministic 2-3x walls with eager=False).
    sym = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionByName(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    core = deg.where(F.col("deg") + 1 >= min_pts).select("id")
    core_edges = (
        sym.join(core.select(F.col("id").alias("u")), "u")
        .join(core.select(F.col("id").alias("v")), "v")
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    comps = graph_ops.connected_components(core, core_edges)  # (id, comp)
    border = (
        sym.join(core.select(F.col("id").alias("u")), "u", "left_anti")
        .join(comps.select(F.col("id").alias("v"), "comp"), "v")
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("comp").alias("comp"))
    )
    all_ids = df.select(F.col(id_col).alias("id"))
    noise = (
        all_ids.join(comps.select("id"), "id", "left_anti")
        .join(border.select("id"), "id", "left_anti")
        .select("id", F.lit(None).cast("bigint").alias("comp"), F.lit("noise").alias("role"))
    )
    return (
        comps.select("id", "comp", F.lit("core").alias("role"))
        .unionByName(border.select("id", "comp", F.lit("border").alias("role")))
        .unionByName(noise)
        .select(
            F.col("id"),
            F.col("role"),
            F.col("comp").cast("bigint").alias("cluster"),
        )
    )
