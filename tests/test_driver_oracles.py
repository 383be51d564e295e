"""Pre-flight for the driver's CORRECTNESS gate: run every queries() entry
and its oracle_sql() DuckDB twin at sf0.001, compare row count, column names,
and order-insensitive values (the driver does the same at sf0.01). Building
each frame is also checked to start no Spark job beyond its pins and the
ones ``CONSTRUCTION_JOBS`` lists."""

from __future__ import annotations

import uuid

import pytest

import __spark_entry__ as entrymod
from pdftableextractor_spark import oracle_gate

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    return oracle_gate.duckdb_views(SF_DIR)


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()

# The jobs that building a driver frame starts, one entry per job, named by
# the operator that starts it. Not listed: a pin's jobs (job description
# "pin: <reason>") and the footer read behind every spark.read.parquet (one
# job named "parquet at ..." per table). Under AQE an action runs one job
# per shuffle stage it waits on, so one action can be several entries.
_QUERY_VEC = "_qvec: query-vector collect"
_KM_INIT = "kmeans_centroids: init collect"
_KM_ITER = "kmeans_centroids: centroid_mean collect"
_CC = ["connected_components: bounded edge collect"]
CONSTRUCTION_JOBS = {
    "q24_cosine_topk": [_QUERY_VEC],
    "q25_ivf_topk": [_QUERY_VEC],
    "q31_column_union": ["union_keys: key collect"] * 2,
    "q35_lsh_topk": [_QUERY_VEC],
    "q39_kmeans_cells": [_KM_INIT, *[_KM_ITER] * 6],
    "q48_embed_dups_unlabeled": [_KM_INIT, *[_KM_ITER] * 6],
    "q52_dup_clusters": _CC,
    "q67_knn_join": [_KM_INIT, *[_KM_ITER] * 4],
    "q69_semantic_dedup": [_KM_INIT, *[_KM_ITER] * 4] + _CC,
    "q70_semantic_incremental": (
        [_KM_INIT, *[_KM_ITER] * 4] + _CC + [_KM_INIT, *[_KM_ITER] * 4]
    ),
    "q75_sq8_topk": [_QUERY_VEC, "sq8_scale: partial-max collect"],
}


def _build_counting_jobs(spark, build):
    """(``build()``, names of the jobs it started that are neither pins
    nor parquet footer reads), counted by job group."""
    sc = spark.sparkContext
    group = f"construction-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    names = []
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(job_id)
        desc = job.description()
        if desc.isDefined() and desc.get().startswith("pin: "):
            continue
        if not job.name().startswith("parquet at "):
            names.append(job.name())
    return out, names


def test_all_oracle_keys_have_queries():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle without query: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    df, jobs = _build_counting_jobs(spark, lambda: QUERIES[name](spark, SF_DIR))
    oracle_gate.check(df, ddb, ORACLES[name])
    expected = CONSTRUCTION_JOBS.get(name, [])
    assert len(jobs) == len(expected), (expected, jobs)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_every_query_is_oracled():
    """Round-2 milestone, pinned: NO rows-only queries remain — every
    driver query has a DuckDB twin (the parametrization above is empty by
    design and only exists as a safety net for future additions)."""
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
