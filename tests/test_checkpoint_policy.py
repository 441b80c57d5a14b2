"""Barrier policy (VERDICT r11 task 8): the data-sized staged frames
switch from executor-local checkpoints to reliable ``checkpoint()``
behind ``SPARK_GRAFT_CHECKPOINT=reliable``, with identical values.

The policy table lives in SURVEY §6 (r12); operators route their
data-sized barriers through ``operators.checkpoints.data_barrier``, so
one env var flips the whole surface.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators import checkpoints as C


@pytest.fixture()
def reliable_env(tmp_path, monkeypatch):
    monkeypatch.setenv(C._MODE_ENV, "reliable")
    monkeypatch.setenv(C._DIR_ENV, str(tmp_path / "ckpt"))
    yield tmp_path / "ckpt"


def test_local_default_is_local_checkpoint(spark, monkeypatch):
    monkeypatch.delenv(C._MODE_ENV, raising=False)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    df = C.data_barrier(spark.range(100).withColumn("x", F.col("id") * 2),
                        eager=True)
    assert df.count() == 100
    # local checkpoints register their blocks in the block manager
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before, "local mode must persist block-manager blocks"


def test_reliable_mode_writes_durable_checkpoint(spark, reliable_env):
    df = C.data_barrier(spark.range(100).withColumn("x", F.col("id") * 2),
                        eager=True)
    assert df.count() == 100
    ckdir = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert not ckdir.isEmpty()
    root = ckdir.get().replace("file:", "")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root) for f in fs
    ]
    assert files, "reliable mode must write checkpoint files to disk"


def _report_rows(analyzed):
    from batch_processing_analysis_spark.config import Configuration
    from batch_processing_analysis_spark.operators.reporting import batch_report

    rows = batch_report(analyzed, Configuration()).collect()
    # map columns (size distributions) compare as sorted item lists
    return sorted(repr([sorted(v.items()) if isinstance(v, dict) else v
                        for v in r]) for r in rows)


def test_reliable_mode_values_identical(spark, reliable_env):
    from batch_processing_analysis_spark.fixtures import (
        inject_batches, injected_log_df,
    )
    from batch_processing_analysis_spark.operators.dedup import (
        containment_pairs,
    )
    from batch_processing_analysis_spark.pipeline import (
        analyze_batches, release_analysis,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the dog"),
         (3, "completely different words here entirely")],
        "doc_id long, text string",
    )
    log = injected_log_df(spark, inject_batches(n_batches=3, batch_size=4))

    def run():
        pairs = sorted(
            tuple(r) for r in containment_pairs(
                docs, c_pct=60, k=2, max_candidates=10_000).collect()
        )
        out = analyze_batches(log)
        report = _report_rows(out)
        release_analysis(out)
        return pairs, report

    got = run()
    # recompute under the default local mode in the same session
    os.environ[C._MODE_ENV] = "local"
    want = run()
    assert got == want and all(got), "modes must agree on non-empty output"


def test_release_honors_reliable_mode(spark, reliable_env):
    df = C.data_barrier(spark.range(10), eager=True)
    assert df.count() == 10
    # reliable checkpoints hold no block-manager blocks, so releasing
    # one is a no-op: its data stays readable from the checkpoint files
    C.release(df)
    assert df.count() == 10
