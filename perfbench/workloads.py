"""The operations of the workloads and the checks of their outputs.

Every operation calls the program's public layer functions directly
(``operators.*``, ``streaming.*``, ``sources.snapshots``, ``ml.*``), never
the cached wrappers of ``__spark_entry__``. The spans it records name the
layer: ``<module>.plan`` around the call that builds the DataFrame,
``<module>.exec`` around the sink that runs it,
``sources.snapshots.<action>`` around each table commit or read, ``ml.fit``
around a model fit, ``operators.similarity.build`` around the index build
and ``operators.ann.query`` around a query batch. Table commits and index
builds go to a fresh directory per pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

Rows = list[tuple]


@dataclass
class Output:
    cols: list[str]
    rows: Rows
    info: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    kind: str  # query | write | read
    run: Callable[["Ctx"], Output]
    oracle: str | None = None  # key into __spark_entry__.oracle_sql()
    check: Callable[["Ctx", Output], str | None] | None = None


@dataclass
class Ctx:
    spark: Any
    tables: dict
    tracer: Any
    work: str
    data_dir: str
    state: dict = field(default_factory=dict)  # per-run and per-pass scratch
    arg: Any = None  # the current table commit or read step


def _rows(df, ctx: Ctx, module: str) -> Output:
    rows = ctx.tracer.call(f"{module}.exec", df.collect)
    return Output(list(df.columns), [tuple(r) for r in rows])


def _query(module: str, build: Callable[[dict], Any]) -> Callable[[Ctx], Output]:
    def run(ctx: Ctx) -> Output:
        df = ctx.tracer.call(f"{module}.plan", build, ctx.tables)
        return _rows(df, ctx, module)

    return run


# --------------------------------------------------------------------------
# job_analytics queries: ETL, RDD-task, SQL and streaming shapes
# --------------------------------------------------------------------------


def _stratified(t):
    from jobanalytics_bigdataproject_spark.operators import sampling

    return sampling.stratified_sample(
        t["orders"], "o_orderstatus", {"O": 0.2, "F": 0.2, "P": 0.2}
    ).select("o_orderkey", "o_orderstatus")


def _check_sample(ctx: Ctx, out: Output) -> str | None:
    share = len(out.rows) / ctx.state["orders_rows"]
    return None if 0.15 <= share <= 0.25 else f"sample share {share:.3f} outside [0.15, 0.25]"


def _price_model_fit(ctx: Ctx) -> Output:
    """Phase 4: the lineitem x part price model, fitted from scratch
    (feature pipeline, then linear regression). The caches it leaves are
    released by the check, outside the timed region."""
    from jobanalytics_bigdataproject_spark.ml import pipeline as mlp

    t = ctx.tables
    df = mlp.make_training_frame(t["lineitem"], t["part"])
    train, test = df.randomSplit([0.7, 0.3], mlp.SEED)

    def fit():
        train.cache()
        features = mlp.build_feature_pipeline(num_tf_features=64).fit(train)
        train_f = features.transform(train).select("features", "label").cache()
        lr = mlp.LinearRegression(maxIter=10, regParam=0.05, elasticNetParam=0.1).fit(train_f)
        return features, lr, train_f

    features, lr, train_f = ctx.tracer.call("ml.fit", fit)
    info = {"features": features, "lr": lr, "train": train, "train_f": train_f, "test": test}
    return Output([], [], info)


def _check_price_model(ctx: Ctx, out: Output) -> str | None:
    """The fitted model must beat the mean-label baseline's RMSE on the
    test split."""
    from pyspark.sql import functions as F

    i = out.info
    try:
        mean = i["train_f"].agg(F.avg("label")).first()[0]
        test_f = i["features"].transform(i["test"]).select("features", "label")
        rows = i["lr"].transform(test_f).select("label", "prediction").collect()
    finally:
        i["train_f"].unpersist()
        i["train"].unpersist()
    label = np.array([r.label for r in rows])
    rmse = float(np.sqrt(np.mean((np.array([r.prediction for r in rows]) - label) ** 2)))
    baseline = float(np.sqrt(np.mean((mean - label) ** 2)))
    return None if rmse < baseline else f"price model rmse {rmse:.4f} not below baseline {baseline:.4f}"


def job_analytics() -> list[Op]:
    import __spark_entry__ as entry

    from jobanalytics_bigdataproject_spark.operators import analytics, tpch
    from jobanalytics_bigdataproject_spark.streaming import joins as sj
    from jobanalytics_bigdataproject_spark.streaming import windows as sw

    a, tp = "operators.analytics", "operators.tpch"
    return [
        Op("q1_pricing_summary", "query",
           _query(a, lambda t: analytics.q1_pricing_summary(t["lineitem"])), "q1_pricing_summary"),
        Op("t2_price_tiers", "query",
           _query(a, lambda t: analytics.t2_price_tiers(t["lineitem"])), "t2_price_tiers"),
        Op("tpch_q9_product_profit", "query",
           _query(tp, lambda t: tpch.q9_product_profit(
               t["lineitem"], t["part"], t["supplier"], t["nation"], t["orders"])),
           "tpch_q9_product_profit"),
        Op("etl_cleaned_orders", "query", _query("operators.etl", entry._etl_cleaned_orders),
           "etl_cleaned_orders"),
        Op("sample_stratified_orders", "query", _query("operators.sampling", _stratified),
           check=_check_sample),
        Op("events_tumbling_10m", "query",
           _query("streaming.windows", lambda t: sw.tumbling_window_agg(t["events"])),
           "events_tumbling_10m"),
        Op("events_interval_join", "query",
           _query("streaming.joins", lambda t: sj.click_purchase_attribution(t["events"])),
           "events_interval_join"),
        Op("ml_price_model", "fit", _price_model_fit, check=_check_price_model),
    ]


# --------------------------------------------------------------------------
# corpus_curation: text pipelines over documents
# --------------------------------------------------------------------------


def _bpe_token_stats(ctx: Ctx) -> Output:
    from jobanalytics_bigdataproject_spark.operators import bpe

    docs, tr = ctx.tables["documents"], ctx.tracer
    rules_df = tr.call("operators.bpe.plan", bpe.bpe_train, docs, n_merges=40)
    rules = [
        (int(r.rank), r.left, r.right, int(r.pair_count))
        for r in tr.call("operators.bpe.exec", rules_df.collect)
    ]
    merges = ctx.spark.createDataFrame(
        rules, "rank INT, left STRING, right STRING, pair_count BIGINT"
    )
    df = tr.call("operators.bpe.plan", bpe.bpe_token_stats, docs, merges)
    return _rows(df, ctx, "operators.bpe")


def _one_row_per_doc(ctx: Ctx, out: Output) -> str | None:
    ids = [r[out.cols.index("doc_id")] for r in out.rows]
    n = ctx.state["documents_rows"]
    return None if len(ids) == len(set(ids)) == n else f"{len(ids)} rows for {n} documents"


def corpus_curation() -> list[Op]:
    from jobanalytics_bigdataproject_spark.operators import dedup, substring, text

    return [
        Op("docs_token_stats", "query",
           _query("operators.text", lambda t: text.token_stats(t["documents"])),
           "docs_token_stats"),
        Op("docs_lsh_candidates", "query",
           _query("operators.dedup", lambda t: dedup.minhash_lsh_candidates(t["documents"]))),
        Op("docs_substring_dedup", "query",
           _query("operators.substring", lambda t: substring.remove_duplicate_spans(
               t["documents"], k=6).select("doc_id", "n_tokens", "n_tokens_after")),
           "docs_substring_dedup"),
        Op("docs_bpe_token_stats", "query", _bpe_token_stats, check=_one_row_per_doc),
    ]


# --------------------------------------------------------------------------
# corpus_curation vector index: build into a fresh directory, then query it
# --------------------------------------------------------------------------

ANN_QUERIES = 20
ANN_K = 5
ANN_MIN_RECALL = 0.7


def index_plan(rng: np.random.Generator, n_vectors: int) -> list[dict]:
    """One pass's index steps: the build, then a seeded query batch."""
    ids = sorted(rng.choice(n_vectors, ANN_QUERIES, replace=False).tolist())
    return [{"op": "ivf_build"}, {"op": "ann_query", "ids": ids}]


def _ivf_build(ctx: Ctx) -> Output:
    from jobanalytics_bigdataproject_spark.operators import similarity

    ctx.tracer.call("operators.similarity.build", similarity.ivf_build_index,
                    ctx.tables["embeddings"], ctx.state["index_dir"], n_clusters=8)
    return Output([], [])


def _ann_query(ctx: Ctx) -> Output:
    from pyspark.sql import functions as F

    from jobanalytics_bigdataproject_spark.operators import similarity

    emb, spark = ctx.tables["embeddings"], ctx.spark

    def query():
        queries = emb.filter(F.col("vec_id").isin(ctx.arg["ids"]))
        df = similarity.ivf_query(spark, ctx.state["index_dir"], queries, k=ANN_K, n_probe=2)
        return df.select("query_id", "neighbor_id", "sim").collect()

    rows = ctx.tracer.call("operators.ann.query", query)
    return Output(["query_id", "neighbor_id", "sim"], [tuple(r) for r in rows])


def index_ops() -> dict[str, Op]:
    return {"ivf_build": Op("ivf_build", "build", _ivf_build),
            "ann_query": Op("ann_query", "ann", _ann_query)}


# --------------------------------------------------------------------------
# job_analytics table commits: the write side of sources.snapshots
# --------------------------------------------------------------------------

ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
]


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (0 if it does not exist)."""
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


MERGES = 1
POINT_READS = 2


def mutation_plan(rng: np.random.Generator, n_orders: int, n_customers: int) -> list[dict]:
    """One pass's seeded batch sequence: create, then merges, a delete and
    point reads in seeded order, then optimize and a full read."""
    width = max(4, n_orders // 50)
    steps: list[dict] = []
    next_key = n_orders
    for _ in range(MERGES):
        lo = int(rng.integers(0, n_orders - width))
        n_new = max(2, n_orders // 200)
        steps.append({
            "op": "merge", "lo": lo, "hi": lo + width,
            "new_keys": list(range(next_key, next_key + n_new)),
            "price_seed": int(rng.integers(0, 2**31)),
        })
        next_key += n_new
    lo = int(rng.integers(0, n_orders - width))
    steps.append({"op": "delete", "lo": lo, "hi": lo + width // 2})
    for _ in range(POINT_READS):
        steps.append({"op": "point_read", "custkey": int(rng.integers(0, n_customers))})
    order = rng.permutation(len(steps))
    return (
        [{"op": "create"}]
        + [steps[i] for i in order]
        + [{"op": "optimize"}, {"op": "full_read"}]
    )


def merge_batch(orders, step: dict):
    """Source rows of a merge step as a pandas frame: the original rows of
    keys [lo, hi) with new prices, plus new keys cloned from the head rows."""
    import pandas as pd

    upd = orders.iloc[step["lo"] : step["hi"]].copy()
    new = orders.iloc[: len(step["new_keys"])].copy()
    new["o_orderkey"] = step["new_keys"]
    batch = pd.concat([upd, new], ignore_index=True)
    rng = np.random.default_rng(step["price_seed"])
    batch["o_totalprice"] = np.round(rng.uniform(1000.0, 500_000.0, len(batch)), 2)
    batch["o_orderpriority"] = "1-URGENT"
    return batch[ORDERS_COLS]


def _snap(action: str):
    """Op runner for one kind of mutation step; ``ctx.arg`` is the step."""
    from pyspark.sql import functions as F

    from jobanalytics_bigdataproject_spark.sources import snapshots as sn

    def run(ctx: Ctx) -> Output:
        st, step, tr, spark = ctx.state, ctx.arg, ctx.tracer, ctx.spark
        path = st["table_dir"]
        layer = f"sources.snapshots.{action}"
        if action == "create":
            tr.call(layer, sn.write_snapshot, ctx.tables["orders"], path,
                    stats_cols=("o_orderkey",), bloom_cols=("o_custkey",))
            return Output([], [])
        if action == "merge":
            res = tr.call(layer, sn.merge_into, spark, path, step["source_df"], ["o_orderkey"])
            return Output([], [], {"files_rewritten": res["files_rewritten"]})
        if action == "delete":
            cond = f"o_orderkey >= {step['lo']} AND o_orderkey < {step['hi']}"
            res = tr.call(layer, sn.delete_where, spark, path, cond)
            return Output([], [], {"files_rewritten": res["files_rewritten"]})
        if action == "optimize":
            tr.call(layer, sn.optimize_snapshot, spark, path)
            return Output([], [])
        if action == "point_read":
            k = step["custkey"]
            df = tr.call(f"{layer}.plan", sn.read_snapshot, spark, path,
                         point={"o_custkey": k})
            df = df.filter(F.col("o_custkey") == k).select(*ORDERS_COLS)
        else:
            df = tr.call(f"{layer}.plan", sn.read_snapshot, spark, path).select(*ORDERS_COLS)
        rows = tr.call(f"{layer}.exec", df.collect)
        return Output(ORDERS_COLS, [tuple(r) for r in rows])

    return run


def table_mutation_ops() -> dict[str, Op]:
    return {
        a: Op(a, "read" if a.endswith("read") else "write", _snap(a))
        for a in ("create", "merge", "delete", "optimize", "point_read", "full_read")
    }
