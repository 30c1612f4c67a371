"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one Spark session at a time
on ``local[<cores>]``, one client in a closed loop (the next operation
starts when the previous one finished). BLAS/OMP pools are pinned to one
thread. Inputs are generated from ``--seed`` under ``.perfbench_work/``
in the root and removed at the end; Spark's local directories, temp files
and event logs stay under the same directory.

Set-up is one cold start: a new Spark session (and JVM), input
generation and one checked warm pass (``Workload.warm``); ``setup_s`` is
the three together, the warm pass counted by the seconds it spent in
the program. Then operations run for ``--seconds``, and at least
``Workload.min_ops`` of them.

``--trace 0`` prints the end-to-end metrics:

  ``op_p50_s``    median seconds of an operation: the whole ETL job on
                  ``ghcn_etl``, one query on ``olap_queries``
  ``ops_per_s``   operations per second busy
  ``rows_per_s``  input records per second busy (for a query: the rows
                  of the tables its oracle reads)
  ``setup_s``     as above

``--trace 1`` sets up once, then runs a third of the time untraced, a
third traced (spans around every call into a layer, Spark job group per
span, event log on) and a third untraced again, and prints the
per-layer metrics, including the tracing overhead; the span tree is
written to ``.perfbench_out/<workload>-<seed>-spans.jsonl``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it is the run's contention record.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# layers whose Spark task metrics the traced run reports (eventlog.py)
OP_LAYERS = ("ghcn", "validate", "plans", "readers", "writers")
SIDE_LAYERS = ("corpus", "stream")  # run once, outside the operations
EVENTLOG_KEYS = ("task_s", "shuffle_bytes", "spill_bytes", "gc_s", "task_skew")
PLAN_KEYS = ("build_s", "exec_s", "shuffles", "broadcast_joins", "cold_scans")

UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "ops_per_s": "1/s",
         "session.peak_rss_mb": "MB", "trace.overhead_pct": "%"}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("task_skew", "survivor_ratio", "write_amp")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, whatever the workload
    (0 for a layer the workload does not use)."""
    from workloads import CORPUS_STAGES, FAMILIES, MART_SPANS

    names = [f"{lay}.{k}" for lay in OP_LAYERS + SIDE_LAYERS for k in EVENTLOG_KEYS]
    names += ["session.start_s", "session.peak_rss_mb", "trace.overhead_pct", "cache.probe_s",
              "readers.scan_s", "readers.raw_scans", "ghcn.run_pipeline_s",
              "writers.write_s", "writers.files_written", "writers.bytes_written",
              "writers.write_amp", "validate.expectations_s", "plans.build_s",
              "plans.exec_s", "corpus.survivor_ratio", "stream.index_build_s",
              "stream.trigger_s"]
    names += [f"ghcn.{m}_s" for m in MART_SPANS]
    names += [f"corpus.{s}_s" for s in CORPUS_STAGES]
    names += [f"plans.{fam}.{k}" for fam in FAMILIES for k in PLAN_KEYS]
    return names


def _env(work: str, cores: int) -> None:
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _conf(work: str, eventlog: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # JIT thresholds scaled down so that the hot paths are compiled
        # during the warm pass, not while a short run is measuring
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-XX:CompileThresholdScaling=0.05",
        "spark.eventLog.enabled": "false",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_jvm() -> None:
    """Stop the session and the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _measure(w, tracer, seconds: float, min_ops: int = 1) -> tuple[list, int]:
    """Closed loop of operations for ``seconds`` and at least ``min_ops``."""
    samples, errors = [], 0
    deadline = time.perf_counter() + seconds
    for n in itertools.count(1):
        try:
            if tracer.enabled:
                with tracer.span("op"):
                    samples += w.op(tracer)
            else:
                samples += w.op(tracer)
        except Exception as exc:  # a failed operation counts, the loop goes on
            print(f"perfbench: operation failed: {exc!r}", file=sys.stderr)
            errors += 1
            if errors > 3:
                break
        if n >= min_ops and time.perf_counter() >= deadline:
            break
    return samples, errors


def _end_to_end(samples, setup_s: float) -> dict[str, float]:
    good = [s for s in samples if s.ok] or samples  # wrong results still took time
    busy = sum(s.seconds for s in good)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(s.seconds for s in good),
        "ops_per_s": len(good) / busy,
        "rows_per_s": sum(s.records for s in good) / busy,
    }


def _layer_of(tracer, run_ids) -> tuple[dict[str, str], dict[str, str]]:
    """Job group -> layer. Inside an ``op`` span a job belongs to the
    layer of the outermost span below ``op``; outside operations, to the
    layer of its outermost span. The streaming query's own micro-batch
    jobs carry its run id as group and belong to ``stream``."""
    by_id = {s.span_id: s for s in tracer.spans}
    in_ops: dict[str, str] = {}
    side: dict[str, str] = {rid: "stream" for rid in run_ids}
    for s in tracer.spans:
        top = s
        while top.parent is not None and by_id[top.parent].name != "op":
            top = by_id[top.parent]
        if top.parent is not None:
            in_ops[s.span_id] = top.layer
        elif top.name != "op":
            side[s.span_id] = top.layer
    return in_ops, side


def _under(span, root, by_id) -> bool:
    while span.parent is not None:
        if span.parent == root.span_id:
            return True
        span = by_id[span.parent]
    return False


def _per_layer(w, tracer, eventlog_dir: str, samples, start_s, overhead) -> dict:
    """Every per-layer metric, 0 for layers the workload does not use.
    Figures of the traced operations are per sample (a job or a query);
    the streaming gate's are per micro-batch."""
    import eventlog

    in_ops, side = _layer_of(tracer, w.run_ids)
    stages, jobs = {}, []
    for f in os.listdir(eventlog_dir):
        stages.update(eventlog.read_stages(os.path.join(eventlog_dir, f)))
        jobs += eventlog.job_seconds(os.path.join(eventlog_dir, f))
    n = max(len(samples), 1)
    out = dict.fromkeys(per_layer_names(), 0.0)
    out.update(eventlog.layer_metrics(stages, in_ops.get, OP_LAYERS, per=n))
    out.update(eventlog.layer_metrics(stages, side.get, ("corpus",)))
    out.update(eventlog.layer_metrics(stages, side.get, ("stream",), per=max(w.batches, 1)))

    def med(name):
        ds = tracer.durations(name)
        return statistics.median(ds) if ds else 0.0

    by_id = {s.span_id: s for s in tracer.spans}
    probe_groups = {s.span_id for s in tracer.spans if s.name == "ghcn.run_pipeline"}
    writes = [sum(c.duration for c in tracer.spans
                  if c.name.startswith("writers.") and _under(c, op, by_id))
              for op in tracer.spans if op.name == "op"]
    out.update({
        "session.start_s": start_s,
        "trace.overhead_pct": overhead,
        "readers.scan_s": eventlog.scan_seconds(stages, None, in_ops.__contains__) / n,
        "readers.raw_scans": eventlog.count_scans(stages, "text", in_ops.__contains__) / n,
        "cache.probe_s": sum(t for g, t in jobs if g in probe_groups) / n,
        "writers.write_s": statistics.median(writes),
        "validate.expectations_s": med("validate.run_expectations"),
        "ghcn.run_pipeline_s": med("ghcn.run_pipeline"),
    })
    from workloads import MART_SPANS

    for mart in MART_SPANS:
        out[f"ghcn.{mart}_s"] = med(f"ghcn.{mart}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import ghcn_d_etl_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work, cores)  # before the session module reads SPARK_GRAFT_CPUS
    try:
        import probes
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        before = probes.contention()
        result = _run(args, work, cores, WORKLOADS[args.workload])
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    after = probes.contention()  # with the JVM gone
    flag = probes.contended(before, after)
    print(json.dumps({"contention": {"before": before, "after": after,
                                     "contended": flag}}))
    if flag:
        print("perfbench: this run was contended (spin probe moved by more than "
              f"{probes.SPIN_TOLERANCE:.0%}); treat its figures with care",
              file=sys.stderr)
    print(json.dumps(result))
    return 0


def _run(args, work, cores, wl_cls) -> dict:
    """Set up, warm, measure; the result object of the run."""
    import probes
    from spans import OFF, Tracer

    from ghcn_d_etl_project_spark.session import get_spark

    w = wl_cls(args.seed)
    eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    with probes.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{cores}]", extra_conf=_conf(work, eventlog_dir))
        start_s = time.perf_counter() - t0
        d = os.path.join(work, "input")
        w.prepare(spark, w.generate(d, args.seed), d)
        gen_s = time.perf_counter() - t0 - start_s
        tw = time.perf_counter()
        warm_s, attempted, failed = w.warm()
        tm = time.perf_counter()
        setup_s = start_s + gen_s + warm_s
        print(f"perfbench: session start {start_s:.2f} s, inputs {gen_s:.2f} s, warm pass "
              f"{warm_s:.2f} s (with checks {tm - tw:.2f} s)", file=sys.stderr)

        if args.trace:
            # untraced, traced, untraced, in the same session (event log on
            # throughout): the overhead is that of the spans and their job
            # groups, and a JIT still warming up biases neither side
            secs = args.seconds / 3
            tracer = Tracer(f"{args.workload}-{args.seed}", True, spark.sparkContext)
            samples, errors = _measure(w, OFF, secs)
            traced, terr = _measure(w, tracer, secs)
            after, aerr = _measure(w, OFF, secs)
            samples, errors = samples + after, errors + aerr
            extras = w.traced_extras(tracer)  # may run traced work of its own
            attempted += len(traced) + terr + w.extra_attempted
            failed += sum(not s.ok for s in traced) + terr + w.extra_failed
        else:
            samples, errors = _measure(w, OFF, args.seconds, w.min_ops)
        print(f"perfbench: measured {len(samples)} samples in {time.perf_counter() - tm:.2f} s",
              file=sys.stderr)
        spark.stop()
    attempted += len(samples) + errors
    failed += sum(not s.ok for s in samples) + errors

    if args.trace:
        base = statistics.median(s.seconds for s in samples)
        overhead = (statistics.median(s.seconds for s in traced) / base - 1.0) * 100.0
        metrics = _per_layer(w, tracer, eventlog_dir, traced, start_s, overhead)
        metrics.update(extras)
        metrics["session.peak_rss_mb"] = rss.peak_mb
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.jsonl"))
    else:
        metrics = _end_to_end(samples, setup_s)

    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics.items())},
    }


if __name__ == "__main__":
    sys.exit(main())
