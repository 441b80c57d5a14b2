"""Degenerate inputs through the paper pipeline: an empty log and a log
in which no batch is found (every planted "batch" holds one case) yield
an empty report, an empty rules text and an empty features table."""

from __future__ import annotations

import pytest

from batch_processing_analysis_spark.config import ActivationRulesMode, Configuration
from batch_processing_analysis_spark.fixtures import (
    InjectedLog,
    inject_batches,
    injected_log_df,
)
from batch_processing_analysis_spark.operators.activation_rules import (
    features_table,
    get_activation_rules,
    render_activation_rules,
)
from batch_processing_analysis_spark.operators.reporting import batch_report, render_report
from batch_processing_analysis_spark.pipeline import analyze_batches, release_analysis

CFG = Configuration()


def _empty(spark):
    return injected_log_df(spark, InjectedLog())


def _no_batch(spark):
    return injected_log_df(spark, inject_batches(n_batches=3, batch_size=1))


@pytest.mark.parametrize("make_log", [_empty, _no_batch], ids=["empty", "no_batch"])
def test_pipeline_outputs_are_empty(spark, make_log):
    out = analyze_batches(make_log(spark), CFG)
    assert render_report(batch_report(out, CFG).collect(), CFG) == ""
    feat = features_table(out, CFG)
    mode = ActivationRulesMode.PER_BATCH
    assert render_activation_rules(
        feat, get_activation_rules(feat, CFG, mode), CFG, mode) == ""
    assert feat.count() == 0
    release_analysis(out)
