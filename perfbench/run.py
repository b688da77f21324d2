"""s2spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload geotag_docs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). A run
record with the host and session diagnostics goes to standard error and
to ``.perfbench_records/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

import engine  # noqa: E402
from tracing import (  # noqa: E402
    NullTracer, Tracer, accumulable_names, cached_storage, read_event_log,
    summarize_tasks, task_metrics_by_group,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "s2_geometry_library_java_spark"

#: setups per untraced run; setup_s is their median
SETUP_ROUNDS = 5
#: a run stops starting calls after this much wall time, whatever --seconds
#: says, so it ends well inside the three-minute limit
WALL_LIMIT_S = 140.0

END_TO_END = {
    "setup_s": "s", "first_iter_s": "s", "iter_s_p50": "s", "items_per_s": "1/s",
    "call_s_p50": "s", "call_s_tail": "s", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.spans_s": "s",
    "functions.python_run_s": "s",
    "functions.python_start_s": "s",
    "functions.arrow_bytes_sent": "B",
    "functions.arrow_bytes_returned": "B",
    "functions.boundary_overhead": "1",
    "kernel.cellid.rows_per_s": "1/s",
    "kernel.predicates.edge_tests_per_s": "1/s",
    "kernel.coverer.s_per_polygon": "s",
    "kernel.shapeindex.build_s": "s",
    "operators.pip.plan_s": "s",
    "operators.pip.action_s": "s",
    "operators.knn.plan_s": "s",
    "operators.knn.action_s": "s",
    "operators.closestedge.plan_s": "s",
    "operators.closestedge.action_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.near_dup_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.largest_component": "count",
    "operators.dedup.planted_recall": "1",
    "operators.dedup.false_merges": "count",
    "pipeline.corpus.funnel.raw": "count",
    "pipeline.corpus.funnel.quality_kept": "count",
    "pipeline.corpus.funnel.exact_canonical": "count",
    "pipeline.corpus.funnel.near_dup_kept": "count",
    "pipeline.corpus.funnel.mix_sampled": "count",
    "pipeline.stage_s": "s",
    "pipeline.bytes_written": "B",
    "plans.density.histogram_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "1",
    "storage.cached_rdds": "count",
    "storage.cached_mb": "MB",
    "trace.overhead_frac": "1",
    "failed_frac": "1",
}


def tail_order_stat(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples above it. Below ``2 * beyond + 1`` samples that
    percentile would sit under the median, so the slowest sample (p100)
    stands in for it; the record states the sample count."""
    s = sorted(values)
    i = len(s) - 1 - beyond if len(s) > 2 * beyond else len(s) - 1
    pct = 100.0 * i / (len(s) - 1) if len(s) > 1 else 100.0
    return s[i], pct


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Executors' Python workers inherit this process's environment."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM, spark-submit's launcher included: temp files in the run
    # directory and no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


class Run:
    def __init__(self, args, run_dir: str):
        import workloads

        self.args = args
        self.run_dir = run_dir
        self.cpus = engine.cpus()
        self.event_dir = os.path.join(run_dir, "events") if args.trace else None
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
        self.conf = engine.session_conf(run_dir, self.cpus, self.event_dir)
        self.w = workloads.WORKLOADS[args.workload](n_files=self.cpus)
        self.spark = None
        self.record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cpus": self.cpus, "host_start": engine.host_snapshot(),
        }
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.storage: list[tuple[int, float]] = []

    def rng(self, *key):
        return np.random.default_rng([self.args.seed, *key])

    # -- set-up -------------------------------------------------------------

    def setup_once(self, round_no: int) -> float:
        if self.spark is not None:
            # the JVM stays up; the old session's teardown (0.1-0.5 s,
            # erratic) is not set-up work, so it is outside the timer
            self.spark.stop()
        t0 = PROCESS_T0 if round_no == 0 else time.perf_counter()
        self.spark = engine.start_session(self.conf)
        fixed = os.path.join(self.run_dir, f"fixed{round_no}")
        engine.clean_dir(fixed)
        info = self.w.setup(self.spark, self.rng(0), fixed)
        elapsed = time.perf_counter() - t0
        self.record["inputs"] = info
        self.record["spark_conf"] = dict(self.spark.sparkContext.getConf().getAll())
        return elapsed

    # -- calls ----------------------------------------------------------------

    def one_call(self, i: int, tracer, probe: bool = False):
        """Make call i's batch, time the call, check it. Returns (iteration
        seconds, per-request latencies, items), or None if it failed."""
        bdir = os.path.join(self.run_dir, "batches", f"b{i}")
        engine.clean_dir(bdir)
        b = self.w.batch(self.rng(1, i), i, bdir)
        self.record["items_per_call"] = b.items
        self.attempted += 1
        try:
            if tracer.enabled:
                tracer.begin_call(f"c{i}")
            t0 = time.perf_counter()
            result, lat = self.w.call(self.spark, b, tracer)
            it = time.perf_counter() - t0
            errs = self.w.check(b, result)
            if probe:
                tracer.begin_call(f"p{i}")
                errs += self.w.probe_layers(self.spark, b, tracer) or []
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            errs = [traceback.format_exc(limit=4)]
        self.storage.append(cached_storage(self.spark))
        shutil.rmtree(bdir, ignore_errors=True)
        if errs:
            self.failed += 1
            self.errors.extend(f"call {i}: {e}" for e in errs[:3])
            return None
        return it, lat, b.items

    def run_untraced(self) -> dict:
        t = NullTracer()
        setups = [self.setup_once(r) for r in range(SETUP_ROUNDS)]
        self.record["setup_rounds_s"] = setups
        wall0 = time.perf_counter()
        first = self.one_call(0, t)
        steady, i = [], 1
        while time.perf_counter() - wall0 < WALL_LIMIT_S:
            out = self.one_call(i, t)
            if out is not None and i > self.w.WARMUP_CALLS:
                steady.append(out)
            i += 1
            if sum(s[0] for s in steady) >= self.args.seconds:
                break
        if first is None or not steady:
            raise RuntimeError("no successful steady-state call: " + " | ".join(self.errors[:3]))
        iters = [s[0] for s in steady]
        calls = [c for s in steady for c in s[1]]
        tail, pct = tail_order_stat(calls)
        self.record.update({
            "iter_s": iters, "call_s": calls, "call_samples": len(calls),
            "call_s_tail_percentile": pct, "first_iter_s": first[0],
        })
        return {
            "setup_s": statistics.median(setups),
            "first_iter_s": first[0],
            "iter_s_p50": statistics.median(iters),
            "items_per_s": sum(s[2] for s in steady) / sum(iters),
            "call_s_p50": statistics.median(calls),
            "call_s_tail": tail,
        }

    def run_traced(self) -> dict:
        self.setup_once(0)
        tracer = Tracer(self.spark)
        plain = NullTracer()
        wall0 = time.perf_counter()
        traced_ids, traced_lat, plain_lat = [], [], []
        i = 0
        while time.perf_counter() - wall0 < WALL_LIMIT_S:
            use = tracer if i % 2 == 1 else plain
            out = self.one_call(i, use, probe=use is tracer)
            tracer.begin_call(f"u{i}")  # the next plain call's jobs
            if out is not None and i > self.w.WARMUP_CALLS:
                if use is tracer:
                    traced_ids.append(i)
                    traced_lat.append(out[0])
                    self.record.setdefault("job_counts", []).append(tracer.job_counts(f"c{i}"))
                else:
                    plain_lat.append(out[0])
            i += 1
            if (sum(traced_lat) + sum(plain_lat) >= self.args.seconds
                    and traced_lat and plain_lat):
                break
        if not traced_lat or not plain_lat:
            raise RuntimeError("no successful traced call: " + " | ".join(self.errors[:3]))
        self.spark.stop()  # flushes the event log
        self.spark = None
        return self.layer_metrics(tracer, traced_ids, traced_lat, plain_lat)

    def layer_metrics(self, t, ids, traced_lat, plain_lat) -> dict:
        med = statistics.median
        calls = {f"c{i}" for i in ids}
        # layer probes run outside the calls, so warm-up calls' probes count
        probes = {s["call"] for s in t.spans if s["call"].startswith("p")}
        m = {k: 0.0 for k in PER_LAYER}

        def span(name, which):
            v = t.span_s(name, which)
            return med(v) if v else 0.0

        def note(name):
            v = t.notes.get(name)
            return med(v) if v else 0.0

        events = read_event_log(self.event_dir)
        self.record["accumulables"] = accumulable_names(events)
        by_group = task_metrics_by_group(events)
        per_call = [
            summarize_tasks([x for g in t.groups_of_call[c] for x in by_group.get(g, [])])
            for c in sorted(calls)
        ]
        for key, field in (
            ("spark.executor_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
            ("spark.shuffle_write_bytes", "shuffle_write"),
            ("spark.shuffle_read_bytes", "shuffle_read"), ("spark.spill_bytes", "spill"),
            ("spark.task_skew", "task_skew"),
            ("functions.arrow_bytes_sent", "arrow_bytes_sent"),
            ("functions.arrow_bytes_returned", "arrow_bytes_returned"),
        ):
            m[key] = med([c[field] for c in per_call])
        m["functions.python_run_s"] = med([c["python_run_ms"] for c in per_call]) / 1e3
        m["functions.python_start_s"] = med([c["python_start_ms"] for c in per_call]) / 1e3
        counts = self.record.get("job_counts", [])
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = med([c[k] for c in counts]) if counts else 0.0

        boundary = []
        for i in ids:
            tasks = by_group.get(f"p{i}|functions.cellid", [])
            k_s = t.notes["functions.kernel_s"]
            if tasks and k_s:
                boundary.append(sum(x["python_run_ms"] for x in tasks) / 1e3)
        if boundary and t.notes.get("functions.kernel_s"):
            m["functions.boundary_overhead"] = med(boundary) / med(t.notes["functions.kernel_s"])
        if t.notes.get("kernel.cellid.s"):
            m["kernel.cellid.rows_per_s"] = med(t.notes["kernel.cellid.rows"]) / med(
                t.notes["kernel.cellid.s"])
        for k in ("kernel.predicates.edge_tests_per_s", "kernel.coverer.s_per_polygon",
                  "kernel.shapeindex.build_s", "pipeline.bytes_written",
                  "operators.dedup.candidate_pairs", "operators.dedup.largest_component",
                  "operators.dedup.planted_recall", "operators.dedup.false_merges"):
            m[k] = note(k)
        m["sources.spans_s"] = span("sources.spans_noop", probes)
        for op in ("pip", "knn", "closestedge"):
            m[f"operators.{op}.plan_s"] = span(f"operators.{op}.plan", calls)
            m[f"operators.{op}.action_s"] = span(f"operators.{op}.action", calls)
        m["operators.dedup.exact_s"] = span("operators.dedup.exact", probes)
        m["operators.dedup.near_dup_s"] = span("operators.dedup.near_dup", probes)
        m["pipeline.stage_s"] = span("pipeline.stage", calls)
        for stage in ("raw", "quality_kept", "exact_canonical", "near_dup_kept", "mix_sampled"):
            m[f"pipeline.corpus.funnel.{stage}"] = note(f"pipeline.corpus.funnel.{stage}")
        m["plans.density.histogram_s"] = getattr(self.w, "histogram_s", 0.0)
        if self.storage:
            m["storage.cached_rdds"], m["storage.cached_mb"] = self.storage[-1]
        m["trace.overhead_frac"] = med(traced_lat) / med(plain_lat) - 1.0
        self.record.update({
            "traced_iter_s": traced_lat, "untraced_iter_s": plain_lat,
            "trace_overhead_frac": m["trace.overhead_frac"],
        })
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    prepare_env(run_dir)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        remove_run_dir(run_dir)
        return 2
    run = Run(args, run_dir)
    status = 1
    try:
        with engine.TreeRssSampler() as rss:
            metrics = run.run_traced() if args.trace else run.run_untraced()
        if args.trace:
            metrics["failed_frac"] = run.failed / run.attempted
            units = PER_LAYER
        else:
            metrics["peak_rss_mb"] = rss.peak_mb
            units = END_TO_END
        run.record["versions"] = versions()
        status = 0
    except Exception:  # noqa: BLE001 - report, then exit non-zero without a result
        traceback.print_exc()
    finally:
        engine.shutdown(run.spark)
        remove_run_dir(run_dir)
    run.record.update({
        "host_end": engine.host_snapshot(),
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors[:10],
        "storage_after_call": run.storage,
    })
    run.record["steal_frac"] = engine.steal_frac(run.record["host_start"], run.record["host_end"])
    write_record(run.record)
    if status != 0:
        return status
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass  # another run's directory is still there


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "python": sys.version.split()[0]}


def write_record(record: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_records")
    os.makedirs(out, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{record['trace']}-{os.getpid()}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(record, f, default=str)
    print("perfbench record: " + json.dumps(record, default=str), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
