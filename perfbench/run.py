"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_bm25 --seed 1 --seconds 15 --trace 0

Run from the repository root. Starts one Spark session at
``local[<usable cores>]``, runs one workload (see ``workloads.py``),
checks its outputs and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from spans and the Spark event log, and the spans are written to
``.perfbench_work/trace-<workload>-<seed>.jsonl``. The line before it
holds every workload-specific end-to-end figure with its unit and
sample count, beside the session's Spark job floor.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUEST_KINDS = ("bm25", "select")

#: detail-line units of the workload-specific end-to-end figures
UNITS = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "error_rate": "ratio", "build_turns_per_s": "turns/s",
    "delete_visible_ms": "ms", "merge_s": "s",
    "index_bytes_per_input_byte": "ratio", "dedup_jaccard_s": "s",
    "dedup_clusters_s": "s",
}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def start_spark(work: str, cores: int, trace: bool):
    from lucene_solr_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python
    workers) and wait for it: a JVM left behind would keep computing
    and slow every run after this one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # a broken session still has a JVM to end
        traceback.print_exc()
    finally:
        if gateway is not None:
            proc = gateway.proc
            try:
                gateway.shutdown()
            except Exception:
                traceback.print_exc()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(w, tracer, work_by_span, cores: int) -> dict:
    """Per-layer figures from the traced run's spans and event log."""
    spans = tracer.spans
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    def subtree(sid):
        ids, todo = [], [sid]
        while todo:
            i = todo.pop()
            ids.append(i)
            todo.extend(children[i])
        return ids

    def work(s):
        tot = defaultdict(float)
        for i in subtree(s["id"]):
            for k, v in work_by_span.get(i, {}).items():
                tot[k] += v
        return tot

    def dur(s):
        return (s["end"] - s["start"]) * 1e3

    # a name's figure comes from the measured loop; only names the loop
    # never reaches fall back to the spans of the traced-run probes
    in_probe = {i for s in spans if s["name"].startswith("probe.") for i in subtree(s["id"])}
    named, probed = defaultdict(list), defaultdict(list)
    for s in spans:
        (probed if s["id"] in in_probe else named)[s["name"]].append(s)
    for k, v in probed.items():
        named.setdefault(k, v)

    def med(*names):
        v = [dur(s) for n in names for s in named[n]]
        return statistics.median(v) if v else 0.0

    def mean_work(key, *names):
        v = [work(s)[key] for n in names for s in named[n]]
        return statistics.fmean(v) if v else 0.0

    reqs = [s for s in spans if s["parent"] is None and s["name"] in REQUEST_KINDS]
    out = dict(w.layer)
    if reqs:
        ws = [work(s) for s in reqs]
        n = len(reqs)
        out.update({
            "spark.jobs_per_request": sum(x["jobs"] for x in ws) / n,
            "spark.stages_per_request": sum(x["stages"] for x in ws) / n,
            "spark.tasks_per_request": sum(x["tasks"] for x in ws) / n,
            "spark.input_bytes_per_request": sum(x["input_bytes"] for x in ws) / n,
            "spark.shuffle_bytes_per_request": sum(x["shuffle_bytes"] for x in ws) / n,
            "spark.gc_ms_per_request": sum(x["gc_ms"] for x in ws) / n,
            "spark.core_busy_share": sum(x["run_ms"] for x in ws)
            / (sum(dur(s) for s in reqs) * cores),
        })
    out.update({
        "parser.parse_ms": med("parser.parse", "parser.parse_select_params"),
        "executor.df_probe_ms": med("executor.global_df"),
        "executor.df_probe_jobs": mean_work("jobs", "executor.global_df"),
        "executor.search_ms": med("executor.search"),
        "handler.select_call_ms": med("handler.select"),
        "handler.page_collect_ms": med("handler.page_collect"),
        "handler.facet_collect_ms": med("handler.facet_collect"),
        "facets.facet_ms": med("handler.facet_collect"),
        "facets.jobs": mean_work("jobs", "handler.facet_collect"),
        "deletes.jobs": mean_work("jobs", "deletes.commit"),
    })
    return out


def main() -> int:
    t_start = time.perf_counter()
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby", "spark-local"):
        os.makedirs(f"{work}/{d}")
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
    })

    # The JVM inherits this process's stderr: send it to a log so the
    # run's Spark WARN lines can be counted; the real stderr gets the
    # log's tail if the run fails.
    log_path = f"{work}/stderr.log"
    real_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    spark = None
    # a SIGTERM (a timeout, say) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        from spans import Tracer, span_work

        t0 = time.perf_counter()
        spark = start_spark(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("WARN")
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        w = workloads.WORKLOADS[args.workload](
            spark, tracer, work, args.seed, args.seconds, cores)
        # wall time of each phase of this run, for the detail line
        phases = {"session": session_s}
        t0 = time.perf_counter()
        w.setup()
        floor_ms = w.job_floor_ms()
        # every loop starts from a collected heap, in Python and the JVM
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        phases["setup"] = time.perf_counter() - t0
        w.run()
        t1 = time.perf_counter()
        phases["run"] = t1 - t0 - phases["setup"]
        if args.trace:
            w.run_probes()
            phases["probes"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        tracer.enabled = False
        spark.catalog.clearCache()
        stop_spark(spark)
        spark = None
        w.verify()
        w.verify_probes()
        phases["stop_and_verify"] = time.perf_counter() - t1
        phases["total"] = time.perf_counter() - t_start
        detail = w.finish()
        detail["setup_s"] = session_s + statistics.median(w.setup_times)
        layer = {}
        if args.trace:
            layer = layer_metrics(w, tracer, span_work(f"{work}/eventlog"), cores)
            tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
    except BaseException:
        traceback.print_exc()
        os.dup2(real_stderr, 2)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(real_stderr, 2)
        os.close(log_fd)
    with open(log_path) as f:
        warn_lines = sum(1 for line in f if re.search(r"\bWARN\b", line))
    shutil.rmtree(work, ignore_errors=True)

    layer["spark.job_floor_ms"] = floor_ms
    layer["spark.warn_lines"] = warn_lines
    n = detail["latency_samples"]
    fig = {k: {"value": v, "unit": UNITS[k]} for k, v in detail.items() if k in UNITS}
    # figures of the traced-run probes, named after the probe
    for name, figs in detail.get("probe", {}).items():
        fig.update({f"{name}.{k}": {"value": v, "unit": UNITS[k]}
                    for k, v in figs.items() if k in UNITS})
    for k in ("latency_p50_ms", "latency_p90_ms"):
        fig[k]["samples"] = n
        fig[k]["spark.job_floor_ms"] = floor_ms
    for k, v in fig.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}"
              + (f"  (n={n}, spark.job_floor_ms {floor_ms:.1f})" if "samples" in v else ""))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cores,
        "seconds": args.seconds, "trace": args.trace,
        "input": w.input_size(),
        "figures": fig,
        "phase_s": phases,
        "counts": {k: v for k, v in detail.items() if k not in UNITS},
        "spark.warn_lines": warn_lines,
    }))

    failed = w.failed + w.wrong
    if args.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(detail[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": w.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
