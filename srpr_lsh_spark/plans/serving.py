"""Serving plan: the reference's ``/api/recommend`` endpoint
(``app.cpp:205-272``) as a single DataFrame-returning function.

The reference's request handler runs FOUR retrievals for one user — BPR and
SRPR, each by brute-force cosine (``main.cpp:30-44``) and by LSH bucket probe
+ cosine re-rank (``lsh.h:132-145``) — then reports the four ranked lists,
the wall time of each retrieval, and single-query precision/recall of LSH
against its model's brute-force ground truth. ``recommend`` returns exactly
that payload as one tidy frame:

    (model, method, rnk, item_id, score, elapsed_ms,
     precision_at_k, recall_at_k)

with one row per recommended item; ``elapsed_ms`` repeats per (model,
method) group; the metrics columns are populated on ``lsh`` rows (LSH scored
vs that model's brute ground truth, the reference's
``calculate_single_query_metrics``) and null on ``brute`` rows.

The HTTP/React surface itself is out of engine scope (SURVEY.md §2 N/A
rows); this closes the last reference entry point with no analogue.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from srpr_lsh_spark.ml.trainer import FactorModel
from srpr_lsh_spark.operators.ann import brute_topk, lsh_topk


def recommend(
    spark: SparkSession,
    models: "dict[str, FactorModel]",
    user_id: int,
    k: int = 10,
    tables: int = 12,
    bits: int = 6,
    seed: int = 42,
) -> DataFrame:
    """The 4-way BPR/SRPR × brute/LSH comparison for one user.

    ``tables``/``bits`` default to the reference's serving config
    (``main.cpp:64-65``: L=12, b=6 over the learned item vectors). Each
    retrieval is materialized (``localCheckpoint``) inside its own timed
    window, mirroring the reference's per-retrieval ``chrono`` brackets.
    """
    frames = []
    for name, m in models.items():
        items = m.item_factors_df(spark).select(
            F.col("item_id").cast("long").alias("item_id"),
            F.col("embedding"),
        )
        from pyspark.sql.types import ArrayType, FloatType

        uv = [float(x) for x in m.user_vector(user_id)]
        # honest schema: the query row is a USER vector probing the item
        # index — query_id_col names it, and (r4) no self-exclusion applies,
        # so an item whose id numerically equals the user id is retrievable
        # (it silently wasn't while the user id was aliased as item_id)
        query = spark.createDataFrame(
            [(int(user_id), uv)],
            StructType(
                [
                    StructField("user_id", LongType(), False),
                    StructField("user_vec", ArrayType(FloatType(), False), False),
                ]
            ),
        )
        per_method = {}
        for method in ("brute", "lsh"):
            t0 = time.time()
            if method == "brute":
                got = brute_topk(
                    items, query, id_col="item_id", vec_col="embedding", k=k,
                    query_id_col="user_id", query_vec_col="user_vec",
                )
            else:
                got = lsh_topk(
                    items, query, id_col="item_id", vec_col="embedding",
                    dim=m.d, k=k, tables=tables, bits=bits, seed=seed,
                    query_id_col="user_id", query_vec_col="user_vec",
                )
            got = got.select(
                F.col("rnk").cast("long"),
                F.col("cand_id").cast("long").alias("item_id"),
                F.col("cosine").cast("double").alias("score"),
            ).localCheckpoint(eager=True)
            per_method[method] = (got, round((time.time() - t0) * 1e3, 3))

        # single-query precision/recall of LSH vs this model's brute ground
        # truth (app.cpp:235-239 → calculate_single_query_metrics)
        gt, lsh = per_method["brute"][0], per_method["lsh"][0]
        hits = lsh.join(gt.select("item_id"), "item_id", "left_semi").count()
        n_gt = gt.count()
        # the reference normalizes by the ACTUAL retrieved-list length
        # (MetricsCalculator.h:153,171: k = lsh_results.size()), not the
        # nominal k — they differ when LSH returns fewer than k candidates
        n_lsh = lsh.count()
        prec = hits / n_lsh if n_lsh else 0.0
        rec = hits / n_gt if n_gt else 0.0
        for method, (got, ms) in per_method.items():
            is_lsh = method == "lsh"
            frames.append(
                got.select(
                    F.lit(name).alias("model"),
                    F.lit(method).alias("method"),
                    "rnk",
                    "item_id",
                    "score",
                    F.lit(ms).alias("elapsed_ms"),
                    F.lit(prec if is_lsh else None)
                    .cast("double")
                    .alias("precision_at_k"),
                    F.lit(rec if is_lsh else None)
                    .cast("double")
                    .alias("recall_at_k"),
                )
            )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out.orderBy("model", "method", "rnk")


def recommend_for_sf(spark: SparkSession, sf_dir: str, cfg, k: int = 10) -> DataFrame:
    """``queries()`` wrapper: train small BPR+SRPR models on the orders
    triplets (the ratings stand-in) and serve the first user — deterministic,
    bounded, rows-only (training is iterative, not SQL-expressible)."""
    from srpr_lsh_spark.ml.trainer import train_bpr, train_srpr
    from srpr_lsh_spark.plans.training import orders_triplets

    trip = orders_triplets(spark, sf_dir).localCheckpoint(eager=True)
    models = {
        "bpr": train_bpr(spark, trip, d=8, epochs=5, learning_rate=0.05,
                         lam=0.01, seed=cfg.seed),
        "srpr": train_srpr(spark, trip, d=8, b=8, epochs=5,
                           learning_rate=0.05, lam=0.001, seed=cfg.seed),
    }
    user_id = int(models["bpr"].user_ids[0])
    return recommend(spark, models, user_id, k=k, seed=cfg.seed)
