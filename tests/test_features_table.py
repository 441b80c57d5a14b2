"""features_table: the one-pass plan equals the subset/flow/points form.

``features_table`` computes every subset feature in ONE
``instants ⋈ cases`` aggregate and takes the workload points from
``instants ⋈ inst``. The reference below is the form it replaced: a
subset aggregate and a flow aggregate as two joins of the instants with
the cases, joined back together, with the points read off that result.
The hand-built log holds the inputs where the two forms could part:

- instance 1: the ready negative (the midpoint of a 1 µs ready
  interval truncates to the last enablement) coincides with a sampled
  enablement negative, so one ``(batch, instant, outcome)`` group sees
  every case twice;
- instance 2: a case enabled after its start starts the instance, so the
  positive instant's subset leaves that case out;
- instance 3: every case is enabled after its start, so its positive
  instant has no subset at all (and no feature row), yet it still yields
  a workload point;
- instances 4 and 5: a batched row with a null case id, next to a case
  and alone.
"""

from __future__ import annotations

from dataclasses import replace
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from batch_processing_analysis_spark.config import ActivationRulesMode, Configuration
from batch_processing_analysis_spark.operators import checkpoints as C
from batch_processing_analysis_spark.operators.activation_rules import (
    OUTCOME_ACTIVATE,
    OUTCOME_NOT_ACTIVATE,
    _per_case,
    features_table,
    get_activation_rules,
    render_activation_rules,
)
from batch_processing_analysis_spark.operators.range_join import workload_at_instants
from batch_processing_analysis_spark.pipeline import release_analysis

CFG = Configuration()
IDS = CFG.log_ids
T0 = datetime(2024, 1, 1, 8, tzinfo=timezone.utc)  # a Monday
US = timedelta(microseconds=1)
MIN = timedelta(minutes=1)
E_LAST = T0 + 20 * MIN  # instance 1: last enablement; it starts 1 µs later


def _log(spark):
    rows = []

    def case(cid, batch, resource, start, enabled):
        if cid is not None:  # an unbatched first event: log first start < case start
            rows.append((cid, "Receive", "clerk", enabled - 90 * MIN,
                         enabled - 80 * MIN, enabled - 90 * MIN, None, None))
        rows.append((cid, "Approve", resource, start, start + 30 * MIN, enabled,
                     batch, "Parallel"))

    for cid, en in (("c1", T0), ("c2", T0 + 10 * MIN), ("c3", E_LAST)):
        case(cid, 1, "approver", E_LAST + US, en)
    t1 = T0 + timedelta(days=1)
    case("c4", 2, "approver", t1, t1 - 60 * MIN)
    case("c5", 2, "approver", t1 - 30 * MIN, t1 + 15 * MIN)  # enabled after start
    case("c6", 2, "approver", t1, t1 - 20 * MIN)
    t2 = T0 + timedelta(days=2)
    case("c7", 3, "approver2", t2, t2 + 5 * MIN)
    case("c8", 3, "approver2", t2, t2 + 10 * MIN)
    t3 = T0 + timedelta(days=3)
    case("c9", 4, "approver", t3, t3 - 120 * MIN)
    case(None, 4, "approver", t3, t3 - 60 * MIN)
    case(None, 5, "approver", t3 + 240 * MIN, t3 + 120 * MIN)
    schema = (f"{IDS.case} string, {IDS.activity} string, {IDS.resource} string, "
              f"{IDS.start_time} timestamp, {IDS.end_time} timestamp, "
              f"{IDS.enabled_time} timestamp, {IDS.batch_id} long, "
              f"{IDS.batch_type} string")
    return spark.createDataFrame(rows, schema)


def _reference_features(log, config):
    """The subset/flow/points form of the features table."""
    ids = config.log_ids
    cases = _per_case(log, config)
    inst = cases.groupBy(ids.batch_id).agg(
        F.first(ids.batch_type).alias(ids.batch_type),
        F.first(ids.resource).alias(ids.resource),
        F.max("case_enabled").alias("inst_enabled"),
        F.min(F.struct("case_start", "case_enabled", "case_first_activity")).alias("_first"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_acts")))).alias("activities"),
    ).select(ids.batch_id, ids.batch_type, ids.resource, "inst_enabled",
             F.col("_first.case_start").alias("inst_start"), "activities")

    n_ready, k = config.num_batch_ready_negative_events, config.num_batch_enabled_negative_events
    pos = inst.select(ids.batch_id, F.col("inst_start").alias("instant"),
                      F.lit(OUTCOME_ACTIVATE).alias("outcome"))
    step = (F.col("inst_start") - F.col("inst_enabled")) / F.lit(n_ready + 1)
    neg_ready = inst.filter(F.col("inst_start") > F.col("inst_enabled")).select(
        ids.batch_id,
        F.explode(F.transform(
            F.sequence(F.lit(1), F.lit(n_ready)),
            lambda i: (F.col("inst_enabled") + (i.cast("double") * step)).cast("long"),
        )).alias("instant"),
        F.lit(OUTCOME_NOT_ACTIVATE).alias("outcome"),
    )
    samp_key = F.md5(F.concat_ws("\x1f", F.lit(str(config.random_seed)), F.col(ids.case)))
    neg_enabled = (
        cases.join(inst.select(ids.batch_id, "inst_start"), ids.batch_id)
        .filter(F.col("case_enabled") < F.col("inst_start"))
        .withColumn("_rn", F.row_number().over(
            W.partitionBy(ids.batch_id).orderBy(samp_key, ids.case)))
        .filter(F.col("_rn") <= k)
        .select(ids.batch_id, F.col("case_enabled").alias("instant"),
                F.lit(OUTCOME_NOT_ACTIVATE).alias("outcome"))
    )
    instants = pos.unionByName(neg_ready).unionByName(neg_enabled)

    subset = (
        instants.join(cases, ids.batch_id)
        .filter(F.col("case_enabled") <= F.col("instant"))
        .groupBy(ids.batch_id, "instant", "outcome")
        .agg(
            F.countDistinct(ids.case).alias("num_queue"),
            F.max("case_enabled").alias("last_enabled"),
            F.min("case_enabled").alias("first_enabled"),
            F.min(F.struct("case_start", "case_enabled", "case_first_activity")).alias("_first"),
        )
    )
    case_first_start = log.groupBy(ids.case).agg(
        F.min(F.unix_micros(F.col(ids.start_time))).alias("_log_first_start"))
    flow = (
        instants.join(cases.select(ids.batch_id, ids.case, "case_enabled"), ids.batch_id)
        .filter(F.col("case_enabled") <= F.col("instant"))
        .join(case_first_start, ids.case)
        .groupBy(ids.batch_id, "instant", "outcome")
        .agg(F.min("_log_first_start").alias("_min_flow_start"))
    )
    feat = (
        subset.join(flow, [ids.batch_id, "instant", "outcome"])
        .join(inst.select(ids.batch_id, ids.batch_type, ids.resource, "activities"),
              ids.batch_id)
    )
    workload = workload_at_instants(
        log.select(ids.resource,
                   F.unix_micros(F.col(ids.enabled_time)).alias("_en_us"),
                   F.unix_micros(F.col(ids.end_time)).alias("_end_us"), ids.case),
        feat.select(ids.resource, "instant").distinct(),
        resource=ids.resource, instant="instant", enabled="_en_us", end="_end_us",
        case=ids.case,
    )
    feat = feat.join(workload, [ids.resource, "instant"], "left")
    ts = F.timestamp_micros(F.col("instant"))
    us = 1_000_000.0
    return feat.select(
        ids.batch_id, ids.batch_type, "activities",
        F.col("_first.case_first_activity").alias("firing_activity"),
        (F.col("instant") / us).alias("instant"),
        "num_queue",
        ((F.col("instant") - F.col("last_enabled")) / us).alias("t_ready"),
        ((F.col("instant") - F.col("first_enabled")) / us).alias("t_waiting"),
        ((F.col("instant") - F.col("_min_flow_start")) / us).alias("t_max_flow"),
        ((F.dayofweek(ts) + 5) % 7).alias("day_of_week"),
        F.dayofmonth(ts).alias("day_of_month"),
        F.hour(ts).alias("hour_of_day"),
        F.minute(ts).alias("minute"),
        F.coalesce("workload", F.lit(0)).alias("workload"),
        "outcome",
    )


def _rows(df):
    return sorted(repr(list(r)) for r in df.collect())


@pytest.mark.parametrize("k", [1, 3])
def test_features_equal_subset_flow_points_form(spark, k):
    cfg = replace(CFG, num_batch_enabled_negative_events=k)
    log = _log(spark)
    got = features_table(log, cfg)
    ref = _reference_features(log, cfg)
    assert got.columns == ref.columns
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)

    rows = got.collect()
    assert {r[IDS.batch_id] for r in rows} == {1, 2, 4}
    # Instance 2's positive subset leaves out c5, enabled after its start.
    pos2 = [r for r in rows if r[IDS.batch_id] == 2 and r["outcome"] == 1]
    assert [r["num_queue"] for r in pos2] == [1]
    if k == 3:
        # The ready negative and c3's enablement collapse into one row
        # that counts each of the three cases once.
        at_last = [r for r in rows if r[IDS.batch_id] == 1 and r["outcome"] == 0
                   and r["instant"] == E_LAST.timestamp()]
        assert [r["num_queue"] for r in at_last] == [3]


def test_features_staged_and_released_with_the_analysis(spark, monkeypatch):
    monkeypatch.delenv(C._MODE_ENV, raising=False)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    log = C.own(_log(spark))  # an owner, as an analyze_batches result is
    feat = features_table(log, CFG)
    # The result is a scan of its own staged rows, not a lazy plan.
    assert feat._jdf.queryExecution().logical().getClass().getSimpleName() == "LogicalRDD"
    mode = ActivationRulesMode.PER_BATCH
    cfg = replace(CFG, min_rule_obs=1)
    text = render_activation_rules(
        feat, get_activation_rules(feat, cfg, mode), cfg, mode)
    assert text.startswith("\n\n")
    staged = feat._jdf.queryExecution().logical().rdd().id()
    assert staged in set(jsc.getPersistentRDDs().keySet().toArray())
    release_analysis(log)
    assert not (set(jsc.getPersistentRDDs().keySet().toArray()) - before)
