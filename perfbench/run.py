"""Paper-pipeline benchmark: event log -> WT table, report and rules.

    python3 perfbench/run.py --workload planted_many_instances --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts one Spark session
(``session.get_spark`` with an explicit ``local[N]`` master), generates
the workload's log from ``--seed``, stages it to parquet under
``perfbench/.work/`` and runs two untimed warm-up operations; the
first one's outputs become the reference. Then, in a closed loop with one client,
it analyses the staged log until ``--seconds`` have passed: one
operation is one log taken to all three artifacts, as the reference
``main.py`` does it. Every operation's outputs are checked.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones: it alternates untraced operations with traced ones that
call each layer's public function under its own job group
(``tracing.py``). The last line of standard output is the result JSON;
the line before it holds the environment and every metric's samples.
See ``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The engine is imported from this checkout only; without it here the
# run fails before it prints anything.
sys.path[:0] = [ROOT, HERE]

import pyspark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import batch_processing_analysis_spark as engine  # noqa: E402
from batch_processing_analysis_spark.config import (  # noqa: E402
    ActivationRulesMode,
    Configuration,
)
from batch_processing_analysis_spark.operators.activation_rules import (  # noqa: E402
    features_table,
    get_activation_rules,
    render_activation_rules,
)
from batch_processing_analysis_spark.operators.discovery import discover_batches  # noqa: E402
from batch_processing_analysis_spark.operators.enablement import (  # noqa: E402
    add_enabled_times,
    concurrency_pairs,
    directly_follows_matrix,
)
from batch_processing_analysis_spark.operators.reporting import (  # noqa: E402
    batch_report,
    render_report,
)
from batch_processing_analysis_spark.operators.waiting_time import (  # noqa: E402
    add_waiting_times,
)
from batch_processing_analysis_spark.pipeline import (  # noqa: E402
    analyze_batches,
    release_analysis,
)
from batch_processing_analysis_spark.session import get_spark  # noqa: E402
from batch_processing_analysis_spark.sources.event_log import (  # noqa: E402
    events_as_event_log,
    read_event_log_parquet,
)

import workloads as W  # noqa: E402
from tracing import Tracer  # noqa: E402

if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
    raise SystemExit(f"engine imported from {engine.__file__}, not from {ROOT}")

# cases per generated log; the smoke test passes --cases to shrink them
WORKLOADS = {
    "events_long_traces": {"kind": "events", "cases": 60},
    "planted_many_instances": {"kind": "planted", "cases": 250},
}
MAX_CORES = 4
# Operations run in set-up before timing starts. Op times fall for the
# first few operations of a session while the JVM compiles the engine's
# hot paths; two warm-up operations leave the timed ones on the flat part.
WARMUP_OPS = 2
# The driver heap is pinned and fixed in size (-Xms = -Xmx): under
# get_spark's default (16g, growing on demand) peak RSS followed the
# JVM's heap-growth decisions and spread by a third between runs.
DRIVER_MEMORY = "2g"

# The per-layer metrics a traced run reports, by layer (package module).
PER_LAYER = {
    "sources": ("s", "rows"),
    "enablement": ("s", "jobs", "stages", "tasks", "executor_ms",
                   "shuffle_bytes", "concurrent_pairs"),
    "discovery": ("s", "jobs", "stages", "tasks", "executor_ms", "shuffle_bytes",
                  "batched_rows", "instances", "planted_recall"),
    "checkpoints": ("held_bytes", "held_rdds", "retained_rdds_after_release"),
    "waiting_time": ("s", "stages", "shuffle_bytes"),
    "reporting": ("s", "jobs", "stages", "executor_ms", "shuffle_bytes",
                  "report_rows"),
    "activation_rules.features": ("s", "jobs", "stages", "executor_ms",
                                  "shuffle_bytes", "feature_rows"),
    "activation_rules.mining": ("s", "stages", "executor_ms", "groups",
                                "rule_yield"),
}
UNITS = {"s": "s", "executor_ms": "ms", "shuffle_bytes": "B", "held_bytes": "B",
         "planted_recall": "ratio", "rule_yield": "ratio"}  # others: count


def _pin_environment(work: str) -> tuple[int, int]:
    """Pin what the session reads from the environment; returns
    (N of local[N], nproc)."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    # get_spark derives the shuffle partition count from it.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers (applyInPandas) import the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    return cores, nproc


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def summarize(values: list[float]) -> dict:
    """Median plus the highest of p75/p90/p95/p99 with at least ten
    samples beyond it (none below 40 samples), with the sample count."""
    out = {"n": len(values), "median": statistics.median(values),
           "values": values}
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out


class Bench:
    def __init__(self, workload: str, seed: int, cases: int, work: str, cores: int):
        self.spec = dict(WORKLOADS[workload], cases=cases)
        self.seed, self.work, self.cores = seed, work, cores
        self.cfg = Configuration()
        self.ids = self.cfg.log_ids
        self.mode = ActivationRulesMode.PER_BATCH
        self.planted: list | None = None
        self.reference: dict | None = None
        self.recall_errors: list[str] = []

    # -- set-up ---------------------------------------------------------
    def start_session(self):
        spark_dirs = {k: os.path.join(self.work, k) for k in ("local", "warehouse")}
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": spark_dirs["local"],
                "spark.sql.warehouse.dir": spark_dirs["warehouse"],
                "spark.driver.extraJavaOptions": " ".join((
                    f"-Xms{DRIVER_MEMORY}", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}")),
            })
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.tracer = Tracer(self.spark)

    def stage_input(self):
        if self.spec["kind"] == "planted":
            log = W.planted_log(self.seed, self.spec["cases"])
            self.planted = log.planted
            self.n_events = len(log.rows)
            self.path = os.path.join(self.work, "log.parquet")
            W.write_log(log, self.path, self.ids)
        else:
            cols = W.events_table(self.seed, self.spec["cases"])
            self.n_events = len(cols["event_id"])
            self.path = os.path.join(self.work, "events")
            os.makedirs(self.path)
            W.write_events(cols, os.path.join(self.path, "events.parquet"))

    def load(self):
        if self.spec["kind"] == "planted":
            return read_event_log_parquet(self.spark, self.path)
        return events_as_event_log(self.spark, self.path, self.ids)

    def collect_garbage(self) -> None:
        """Start every operation from a collected Python and JVM heap."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    # -- checks -----------------------------------------------------------
    def wt_check(self, out) -> dict:
        """One aggregate over the WT table: row count, an order-free
        digest (sum of row hashes) and the rows breaking
        ``total = creation + ready + other`` or holding a negative part."""
        i = self.ids
        parts = [F.col(c) for c in (i.batch_total_wt, i.batch_creation_wt,
                                    i.batch_ready_wt, i.batch_other_wt)]
        bad = (parts[0] != parts[1] + parts[2] + parts[3]) | F.greatest(
            *[p < 0 for p in parts])
        r = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*out.columns).cast("decimal(38,0)")).alias("h"),
            F.sum(F.when(F.col(i.batch_id).isNotNull() & F.coalesce(bad, F.lit(True)),
                         1).otherwise(0)).alias("bad"),
        ).collect()[0]
        return {"rows": r["rows"], "digest": str(r["h"]), "bad_rows": r["bad"]}

    def recall(self, out) -> tuple[float, int]:
        """Planted instances recovered with their planted type ÷ planted,
        and the number of instances discovered."""
        i = self.ids
        pdf = (out.filter(F.col(i.batch_id).isNotNull())
               .select(i.case, i.activity, i.batch_id, i.batch_type).toPandas())
        found = {frozenset(zip(g[i.case], g[i.activity])): g[i.batch_type].iloc[0]
                 for _, g in pdf.groupby(i.batch_id)}
        if not self.planted:
            return 1.0, len(found)
        hits = sum(found.get(keys) == kind for kind, keys in self.planted)
        return hits / len(self.planted), len(found)

    def verify(self, out, report: str, rules: str) -> list[str]:
        """Checks on one operation's outputs; returns the failures."""
        got = dict(self.wt_check(out),
                   report=hashlib.sha256(report.encode()).hexdigest(),
                   rules=hashlib.sha256(rules.encode()).hexdigest())
        errors = [f"{got['bad_rows']} batched rows break the WT invariant"] \
            if got["bad_rows"] else []
        if self.reference is None:
            self.reference = got
            rec, found = self.recall(out)
            self.recall_errors = [
                f"recall {rec} with {found} instances found for "
                f"{len(self.planted)} planted"
            ] if self.planted and (rec != 1.0 or found != len(self.planted)) else []
        else:
            errors += [f"{k} differs from the first operation" for k in
                       ("rows", "digest", "report", "rules")
                       if got[k] != self.reference[k]]
        # Equal outputs carry the first operation's recall verdict.
        return errors + self.recall_errors

    # -- one operation, untraced --------------------------------------------
    def operation(self, ckpt: dict | None = None) -> dict:
        """The reference main.py flow on the staged log. With ``ckpt``,
        also records the checkpoint counters around the facade calls."""
        before = self.tracer.persistent_rdds() if ckpt is not None else None
        t0 = time.perf_counter()
        out = analyze_batches(self.load(), self.cfg)
        out.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        report = render_report(batch_report(out, self.cfg).collect(), self.cfg)
        t2 = time.perf_counter()
        feat = features_table(out, self.cfg)
        rules = render_activation_rules(
            feat, get_activation_rules(feat, self.cfg, self.mode), self.cfg, self.mode)
        t3 = time.perf_counter()
        errors = self.verify(out, report, rules)
        if ckpt is not None:
            held = self.tracer.persistent_rdds() - before
            ckpt["held_rdds"] = len(held)
            ckpt["held_bytes"] = self.tracer.held_bytes(held)
        t4 = time.perf_counter()
        release_analysis(out)
        t5 = time.perf_counter()
        if ckpt is not None:
            ckpt["retained_rdds_after_release"] = len(self.tracer.persistent_rdds() - before)
        return {"wt_table_s": t1 - t0, "report_s": t2 - t1, "rules_s": t3 - t2,
                "pipeline_s": (t3 - t0) + (t5 - t4), "errors": errors}

    # -- one operation, traced ----------------------------------------------
    def traced_operation(self, it: int) -> dict:
        """Each layer's public function under its own job group, its
        output materialized before the next layer runs. Probes that
        count rows run outside every group and outside every timing."""
        cfg, ids, layer = self.cfg, self.ids, self.tracer.layer
        before = self.tracer.persistent_rdds()
        m: dict = {}

        def stage(df):
            return df.localCheckpoint(eager=True)

        with layer("sources", it) as m["sources"]:
            log = stage(self.load())
        m["sources"]["rows"] = log.count()
        with layer("enablement", it) as m["enablement"]:
            enabled = stage(add_enabled_times(log, ids))
        m["enablement"]["concurrent_pairs"] = len(
            concurrency_pairs(directly_follows_matrix(log, ids), 0.1))
        with layer("discovery", it) as m["discovery"]:
            disc = discover_batches(enabled, cfg)  # ends in an eager checkpoint
        counts = disc.agg(F.count(ids.batch_id).alias("rows"),
                          F.countDistinct(ids.batch_id).alias("inst")).collect()[0]
        m["discovery"].update(batched_rows=counts["rows"], instances=counts["inst"],
                              planted_recall=self.recall(disc)[0])
        with layer("waiting_time", it) as m["waiting_time"]:
            out = stage(add_waiting_times(disc, cfg))
        with layer("reporting", it) as m["reporting"]:
            rows = batch_report(out, cfg).collect()
            report = render_report(rows, cfg)
        m["reporting"]["report_rows"] = len(rows)
        with layer("activation_rules.features", it) as m["activation_rules.features"]:
            feat = stage(features_table(out, cfg))
        m["activation_rules.features"]["feature_rows"] = feat.count()
        with layer("activation_rules.mining", it) as m["activation_rules.mining"]:
            rules = render_activation_rules(
                feat, get_activation_rules(feat, cfg, self.mode), cfg, self.mode)
        # Mined groups render either a rule block or the no-rule line;
        # groups stopped by the size/outcome guards render neither.
        with_rule = rules.count("\n\t# Observations: ")
        mined = with_rule + rules.count(": No rules could match")
        m["activation_rules.mining"].update(
            groups=mined, rule_yield=with_rule / mined if mined else 0.0)
        errors = self.verify(out, report, rules)
        self.tracer.unpersist(self.tracer.persistent_rdds() - before)
        return {"layers": m, "errors": errors}


def _run(args) -> dict:
    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(work)
    try:
        cores, nproc = _pin_environment(work)
        cases = args.cases or WORKLOADS[args.workload]["cases"]
        b = Bench(args.workload, args.seed, cases, work, cores)
        t0 = time.perf_counter()
        b.start_session()
        try:
            b.stage_input()
            warm_failed = 0
            for _ in range(WARMUP_OPS):  # the first one's outputs are the reference
                b.collect_garbage()
                warm = b.operation()
                if warm["errors"]:
                    print(f"warm-up operation failed its checks: {warm['errors']}",
                          file=sys.stderr)
                    warm_failed += 1
            setup_s = time.perf_counter() - t0
            return dict(_measure(b, args, setup_s, nproc), warm_failed=warm_failed)
        finally:
            _stop(b.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _measure(b: Bench, args, setup_s: float, nproc: int) -> dict:
    samples: dict[str, list[float]] = {}
    layers: dict[str, list[float]] = {}
    attempted = failed = 0
    steal0 = _cpu_ticks()
    t_end = time.perf_counter() + args.seconds
    kinds = ["untraced", "traced"] if args.trace else ["untraced"]
    it = 0
    while it < len(kinds) or time.perf_counter() < t_end:
        kind = kinds[it % len(kinds)]
        it += 1
        attempted += 1
        b.collect_garbage()
        try:
            if kind == "traced":
                r = b.traced_operation(it)
                for lname, rec in r["layers"].items():
                    for k, v in rec.items():
                        layers.setdefault(f"{lname}.{k}", []).append(v)
                layers.setdefault("trace_sum_s", []).append(
                    sum(rec["s"] for rec in r["layers"].values()))
            else:
                ckpt = {} if args.trace else None
                r = b.operation(ckpt)
                for k in ("pipeline_s", "wt_table_s", "report_s", "rules_s"):
                    samples.setdefault(k, []).append(r[k])
                for k, v in (ckpt or {}).items():
                    layers.setdefault(f"checkpoints.{k}", []).append(v)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            failed += 1
            continue
        if r["errors"]:
            print(f"operation {it} failed its checks: {r['errors']}", file=sys.stderr)
            failed += 1
    if "pipeline_s" not in samples or (args.trace and "trace_sum_s" not in layers):
        raise RuntimeError("no operation completed")
    steal1 = _cpu_ticks()
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(b.jvm_pid)
    pipe = statistics.median(samples["pipeline_s"])
    e2e = {
        "pipeline_s": (pipe, "s"),
        "wt_table_s": (statistics.median(samples["wt_table_s"]), "s"),
        "report_s": (statistics.median(samples["report_s"]), "s"),
        "rules_s": (statistics.median(samples["rules_s"]), "s"),
        "events_per_s": (b.n_events / pipe, "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "events": b.n_events,
        "planted_instances": len(b.planted or ()),
        "failed_ratio": failed / attempted,
        "env": {
            "master": b.spark.sparkContext.master, "nproc": nproc,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "pyspark": pyspark.__version__,
            # CPU time the hypervisor gave to other guests while measuring
            "steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "scratch_dir": b.spark.conf.get("spark.local.dir"),
            "spark_graft": {k: v for k, v in os.environ.items()
                            if k.startswith("SPARK_GRAFT_")},
        },
        "samples": {k: summarize(v) for k, v in samples.items()},
    }
    if args.trace:
        metrics = {f"{lname}.{k}": (statistics.median(layers[f"{lname}.{k}"]),
                                    UNITS.get(k, "count"))
                   for lname, keys in PER_LAYER.items() for k in keys}
        metrics["trace_overhead_s"] = (
            statistics.median(layers["trace_sum_s"]) - pipe, "s")
        detail["layer_samples"] = {k: summarize(v) for k, v in layers.items()}
    else:
        metrics = e2e
    return {"detail": detail, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _stop(spark) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until each has exited."""
    gateway = pyspark.SparkContext._gateway
    jvm = gateway.proc if gateway is not None else None
    pids = _descendants(jvm.pid) if jvm is not None else []
    spark.stop()
    if jvm is None:
        return
    gateway.shutdown()
    jvm.stdin.close()  # the gateway server exits when its stdin closes
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cases", type=int, default=None,
                   help="cases per generated log (default: the workload's)")
    args = p.parse_args(argv)
    res = _run(args)
    res["detail"]["warmup_failed"] = res["warm_failed"]
    correct = res["failed"] == 0 and res["warm_failed"] == 0
    print(json.dumps(res["detail"], sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
