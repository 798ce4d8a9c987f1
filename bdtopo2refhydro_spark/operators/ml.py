"""Distributed model TRAINING primitives (inference lives in
text.py:linear_classifier_score, clustering in ann.py:kmeans_centroids).

A crawl-curation pipeline trains small models constantly — quality
gates, routing rules. The training loop that matters at 100 TB is the
one that is a handful of scans + aggregations, not a parameter server:
grouped least squares and naive Bayes below are both exact integer
aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def linreg_groups(df: DataFrame, group_col: str = "g",
                  x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-group ordinary least squares over integer samples, exact to
    the bit: one aggregation collects (n, Σx, Σy, Σxy, Σx²) as BIGINTs,
    then

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²)          = N / D
        intercept = (Σy·D − Σx·N) / (n·D)

    each a SINGLE IEEE division of exact integers — no float
    accumulation anywhere, so results replay bit-identically on any
    engine/partitioning. One map-side-combined shuffle of 5 longs per
    group; nothing else moves."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count("*").alias("n"), F.sum(x).alias("sx"),
        F.sum(y).alias("sy"), F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"))
    N = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    D = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "g", F.col("n").cast("long").alias("n"),
        (N.cast("double") / D.cast("double")).alias("slope"),
        ((F.col("sy") * D - F.col("sx") * N).cast("double")
         / (F.col("n") * D).cast("double")).alias("intercept"))


def nb_train_predict(train_tokens: DataFrame, probes: DataFrame,
                     vocab_size: int, label_col: str = "label",
                     token_col: str = "token", pid_col: str = "pid",
                     tokens_col: str = "toks") -> DataFrame:
    """Binary multinomial naive Bayes, trained and served in one plan,
    argmax EXACT: with Laplace smoothing the class scores are
    rationals, so instead of comparing float log-likelihoods the
    cross-multiplied integer comparison

        N1·Πⱼ(cnt(tⱼ,1)+1)·(N0+V)^k  >  N0·Πⱼ(cnt(tⱼ,0)+1)·(N1+V)^k

    decides the class with NO rounding anywhere (ties → class 0).
    Products of the small per-token counts are exact in double
    (< 2^53) and the final comparison runs in decimal(38,0), so ANSI
    never overflows. Training is one groupBy over the token stream;
    the count table broadcasts to the probe side (model ≪ corpus — the
    usual 100 TB shape). Probe token arrays must have fixed length k
    per row (k = size(toks), used as the smoothing exponent).

    Returns (pid, p1, p0, pred): the smoothed-count products per class
    and the predicted label."""
    lab = F.col(label_col).cast("long")
    counts = train_tokens.groupBy(F.col(token_col).alias("t")).agg(
        F.sum(F.when(lab == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(lab == 0, 1).otherwise(0)).alias("c0"))
    totals = train_tokens.agg(
        F.sum(F.when(lab == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(lab == 0, 1).otherwise(0)).cast("long").alias("n0"))
    ex = probes.select(F.col(pid_col).alias("pid"),
                       F.explode(tokens_col).alias("t"))
    joined = ex.join(F.broadcast(counts), "t", "left")
    per = joined.groupBy("pid").agg(
        F.product(F.coalesce("c1", F.lit(0)) + 1).alias("p1"),
        F.product(F.coalesce("c0", F.lit(0)) + 1).alias("p0"),
        F.count("*").alias("k"))
    dec = "decimal(38,0)"
    v = F.lit(int(vocab_size))
    s1 = (F.col("n1").cast(dec) * F.col("p1").cast(dec)
          * F.pow(F.col("n0") + v, F.col("k")).cast(dec))
    s0 = (F.col("n0").cast(dec) * F.col("p0").cast(dec)
          * F.pow(F.col("n1") + v, F.col("k")).cast(dec))
    return (per.crossJoin(F.broadcast(totals))
            .select("pid", F.col("p1").cast("long").alias("p1"),
                    F.col("p0").cast("long").alias("p0"),
                    F.when(s1 > s0, 1).otherwise(0)
                    .cast("long").alias("pred")))
