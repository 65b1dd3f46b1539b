"""Row-identity between the new Engine facade verbs and their
oracle-checked catalog twins — the drift guard the gapfill advice item
established: the facade must not silently diverge from the verified kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nocouncil_etl_spark.api import Engine
from nocouncil_etl_spark.registry import load_all

REG = load_all()


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_verb_matches_catalog(eng, spark, sf_dir):
    from nocouncil_etl_spark.plans.retrieval_plans import BM25_TOP, QUERY_TERMS

    docs = eng.table(sf_dir, "documents")
    verb = eng.bm25(docs, "doc_id", "text", QUERY_TERMS, k=BM25_TOP)
    twin = REG["text_bm25_search"].fn(spark, sf_dir)
    assert _rows(verb) == _rows(twin)


def test_auc_verb_matches_catalog(eng, spark, sf_dir):
    from nocouncil_etl_spark.plans.evalstats import BOOST, POS_TYPE

    ev = eng.table(sf_dir, "events").select(
        F.round(
            F.col("value")
            + F.when(F.col("event_type") == POS_TYPE, F.lit(BOOST)).otherwise(0.0),
            2,
        ).alias("score"),
        F.when(F.col("event_type") == POS_TYPE, 1).otherwise(0).alias("label"),
    )
    verb = eng.auc(ev, "score", "label")
    twin = REG["eval_roc_auc"].fn(spark, sf_dir)
    assert _rows(verb) == _rows(twin)


def test_bootstrap_verb_matches_catalog(eng, spark, sf_dir):
    ev = eng.table(sf_dir, "events")
    verb = eng.bootstrap_ci(ev, "event_id", "value", replicas=32)
    twin = REG["agg_bootstrap_ci"].fn(spark, sf_dir)
    assert _rows(verb) == _rows(twin)


def test_rules_verb_matches_catalog_modulo_top(eng, spark, sf_dir):
    from nocouncil_etl_spark.plans.analytics6 import MIN_PAIR_SUPPORT, TOP_RULES

    li = eng.table(sf_dir, "lineitem")
    verb = eng.association_rules(
        li, "l_orderkey", "l_partkey", min_support=MIN_PAIR_SUPPORT, top=TOP_RULES
    )
    twin = REG["market_basket_lift"].fn(spark, sf_dir)
    assert _rows(verb) == _rows(twin)


def test_radius_verb_matches_catalog(eng, spark, sf_dir):
    from nocouncil_etl_spark.functions.numeric import hash60 as _hv
    from nocouncil_etl_spark.plans.geo_plans import (
        LAT_RANGE,
        LON_RANGE,
        RADIUS_MDEG,
    )

    users = eng.table(sf_dir, "events").select("user_id").distinct()
    pts = users.select(
        "user_id",
        (_hv(F.concat(F.lit("lon#"), F.col("user_id").cast("string"))) % LON_RANGE).alias("x"),
        (_hv(F.concat(F.lit("lat#"), F.col("user_id").cast("string"))) % LAT_RANGE).alias("y"),
    )
    verb = eng.radius_join(pts, "user_id", "x", "y", RADIUS_MDEG)
    twin = REG["geo_radius_join"].fn(spark, sf_dir)
    assert _rows(verb) == _rows(twin)
