"""The BCS_RELIABLE_CKPT switch (r16, VERDICT item 8): the engine's single
materialization point must run both storage contracts from the same code —
localCheckpoint locally (default), reliable DataFrame.checkpoint under the
env flag — with identical results either way."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from better_cdc_spark.session import ckpt


@pytest.fixture()
def clean_env(monkeypatch, tmp_path):
    monkeypatch.delenv("BCS_RELIABLE_CKPT", raising=False)
    monkeypatch.setenv("BCS_CKPT_DIR", str(tmp_path / "reliable"))
    return tmp_path


def test_default_branch_is_local_checkpoint(spark, clean_env):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = df.transform(ckpt)
    # localCheckpoint truncates lineage to an RDD scan (LogicalRDD in the
    # optimized plan) and needs no checkpoint dir; the reliable dir must
    # NOT have been created
    assert out.count() == 100
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    assert not os.path.exists(str(clean_env / "reliable"))
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )


def test_reliable_branch_writes_checkpoint_files(spark, clean_env, monkeypatch):
    monkeypatch.setenv("BCS_RELIABLE_CKPT", "1")
    df = spark.range(100).withColumn("v", F.col("id") * 3)
    out = df.transform(ckpt)
    assert out.count() == 100
    ckpt_dir = str(clean_env / "reliable")
    # reliable checkpoint materialized under BCS_CKPT_DIR
    assert os.path.exists(ckpt_dir)
    found = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert found, "no reliable checkpoint files written"
    # get_spark lets the ContextCleaner delete them once `out` is collected
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )


def test_both_branches_agree_through_a_query_shaped_pipeline(
    spark, clean_env, monkeypatch
):
    base = spark.range(500).withColumn("k", F.col("id") % 7)

    def pipeline():
        mat = base.groupBy("k").agg(F.sum("id").alias("s")).transform(ckpt)
        # consume the materialized frame twice, like the query call sites
        return mat.join(mat.select(F.col("k"), F.col("s").alias("s2")), "k")

    local = sorted(map(tuple, pipeline().collect()))
    monkeypatch.setenv("BCS_RELIABLE_CKPT", "1")
    reliable = sorted(map(tuple, pipeline().collect()))
    assert local == reliable
