import datetime as dt

import pytest
from pyspark.sql import functions as F

from featuretools_spark.session import get_spark
from featuretools_spark.entityset import EntitySet

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ft_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def es(spark):
    """EntitySet over the driver testdata: customer <- orders <- lineitem,
    users <- events."""
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    users = events.select(F.col("user_id")).distinct()

    es = EntitySet("test")
    es.add_dataframe("customer", customer, index="c_custkey")
    es.add_dataframe("orders", orders, index="o_orderkey", time_index="o_orderdate")
    es.add_dataframe(
        "lineitem",
        lineitem.withColumn(
            "_li_id",
            F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        ),
        index="_li_id",
        time_index="l_shipdate",
    )
    es.add_dataframe("users", users, index="user_id")
    es.add_dataframe(
        "events",
        events,
        index="event_id",
        time_index="ts",
        logical_types={"event_type": "Categorical"},
    )
    es.add_relationship("customer", "c_custkey", "orders", "o_custkey")
    es.add_relationship("orders", "o_orderkey", "lineitem", "l_orderkey")
    es.add_relationship("users", "user_id", "events", "user_id")
    return es


@pytest.fixture(scope="session")
def hot_seq_es(spark):
    """The as-of evaluators' shared fixture: sequences with one hot
    entity (30% of rows) and a boolean column, 3 per-row cutoffs per
    entity, and 18 features — every primitive but trend that the
    sortmerge running windows compute, plus a where-masked count.
    Returns (es, cutoffs, features)."""
    from featuretools_spark.datagen import (
        make_cutoffs, make_entities, make_sequences,
    )
    from featuretools_spark.features import (
        AggregationFeature, IdentityFeature,
    )

    seqs = make_sequences(spark, n_rows=3000, n_entities=40,
                          hot_row_frac=0.3, n_hot=1).withColumn(
        "is_big", F.col("n_tok") > 256
    ).cache()
    es = EntitySet("hot_seq")
    # no parent time index: a target-grain PIT mask would default
    # every windowed row and hide evaluator disagreements
    es.add_dataframe("entities", make_entities(seqs).drop("first_seen"),
                     index="entity_id")
    es.add_dataframe("sequences", seqs, index="doc_id",
                     time_index="event_time")
    es.add_relationship("entities", "entity_id", "sequences", "entity_id")
    n_tok = IdentityFeature(es, "sequences", "n_tok")
    big = IdentityFeature(es, "sequences", "is_big")
    ts = IdentityFeature(es, "sequences", "event_time")
    feats = []
    for p in ("count", "sum", "mean", "std", "variance", "min", "max",
              "first", "last", "num_true", "any", "all", "percent_true"):
        col = big if p in ("any", "all", "num_true", "percent_true") \
            else n_tok
        feats.append(AggregationFeature(col, "entities", p, es=es))
    for p in ("time_since_last", "time_since_first", "avg_time_between",
              "first_last_time_delta"):
        feats.append(AggregationFeature(ts, "entities", p, es=es))
    feats.append(AggregationFeature(
        IdentityFeature(es, "sequences", "doc_id"), "entities", "count",
        where=big, es=es))
    return es, make_cutoffs(spark, seqs, per_entity=3), feats


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


CUTOFF = dt.datetime(2024, 1, 20)
