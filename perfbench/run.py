"""Benchmark of the engine: one command, end-to-end or per-layer.

    python3 perfbench/run.py --workload {flagship,query_mix} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root; nothing needs building. Each run starts
its own local[nproc] Spark session, makes its inputs from the seed, sets
up the workload (timed), warms up (untimed), runs operations until S
seconds have passed, then checks outputs outside the timed window.

Untraced (--trace 0), the last line of stdout is one JSON object with
the end-to-end metrics:

    setup_s           session start plus the median of the workload's
                      set-up repetitions (input generation and dataset
                      registration)
    throughput_per_s  flagship: median pages/s over passes;
                      query_mix: requests / total request time

The median latency (flagship: pass time; query_mix: request latency,
with its tail) is reported in the table on stderr and in the report.

`attempted` counts timed operations plus output checks, `failed` the
operations that raised or gave wrong output and the checks that did not
match; failed / attempted is the error rate.

Traced (--trace 1), the session also writes a Spark event log. The
timed loop runs each operation twice, tracing one of the two in ABBA
order; traced minus untraced medians is the tracing overhead. Then every
layer is swept (layers.py) and the per-layer metrics are printed instead.

Every sample, the spans with their self times, the checks and the
named metrics (pages_per_s, query_ms_p50, query_ms_tail,
queries_per_s, readback_ms, error_rate) are written to
perfbench/results/<workload>-seed<N>-trace<T>.json; a readable table
goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, UNITS  # noqa: E402


@dataclass
class Sample:
    i: int
    latency_s: float
    result: object
    error: str | None
    traced: bool = False


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def missing_inputs() -> list[str]:
    """what the benchmark needs from the checkout but cannot find."""
    return [p for p in (harness.PACKAGE_DIR, harness.FLOOD_FIXTURE)
            if not os.path.exists(p)]


def timed_loop(work, seconds: float, unit: int, tracer=None) -> list[Sample]:
    """operations until `seconds` have passed, checked at whole units
    (one pass, or one cycle of the request mix). With a tracer, tracing
    is on for operations 1 and 2 of every 4 (ABBA), so warm-up drift
    falls on both arms alike."""
    samples = []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        for _ in range(unit):
            if tracer is not None:
                tracer.enabled = i % 4 in (1, 2)
            t0 = time.perf_counter()
            try:
                res, err = work.op(i), None
            except Exception:  # count it, keep the closed loop going
                res, err = None, traceback.format_exc()
                print(err, file=sys.stderr)
            samples.append(Sample(i, time.perf_counter() - t0, res, err,
                                  tracer is not None and tracer.enabled))
            i += 1
        if time.perf_counter() >= deadline:
            if tracer is not None:
                tracer.enabled = False
            return samples


def e2e_metrics(work, setup_s: float, samples) -> tuple[dict, dict]:
    """(metric values, their summaries) over the successful samples."""
    good = [s for s in samples if s.error is None]
    series = work.e2e(good)
    thr = harness.summarize(series["throughput_per_s"])
    lat = harness.summarize(series["latency_ms"])
    values = {"setup_s": setup_s, "throughput_per_s": thr["median"],
              "latency_ms_p50": lat["median"]}
    return values, {"throughput_per_s": thr, "latency_ms": lat,
                    "latency_ms_tail": harness.tail(series["latency_ms"])}


def count_failures(samples, checks) -> tuple[int, int]:
    attempted = len(samples) + len(checks)
    failed = sum(1 for s in samples if s.error or not s.result.ok)
    failed += sum(1 for c in checks if not c["ok"])
    return attempted, failed


def named_metrics(name, values, summ, attempted, failed, report) -> dict:
    """the metrics under the names the workload's users read."""
    out = {"error_rate": failed / attempted}
    if name == "flagship":
        out["pages_per_s"] = values["throughput_per_s"]
        out["pass_ms_p50"] = values["latency_ms_p50"]
    else:
        out["queries_per_s"] = values["throughput_per_s"]
        out["query_ms_p50"] = values["latency_ms_p50"]
        out["query_ms_tail"] = summ["latency_ms_tail"]
        out["readback_ms"] = report.get("readback_ms")
    return out


def measure(work_, args, tracer, report) -> tuple[list, list]:
    """set-up repetitions, read-back, warm-up, the timed loop and the
    output checks; returns (samples, checks)."""
    setup = []
    for rep in range(work_.setup_reps):
        t0 = time.perf_counter()
        work_.setup(rep)
        setup.append(time.perf_counter() - t0)
    report["setup"]["data_setup_s"] = setup
    report["setup"]["setup_s"] = (report["setup"]["session_start_s"]
                                  + statistics.median(setup))
    ss = getattr(work_, "ss", None)
    if ss is not None:  # the job path's cost in the last set-up
        report["setup"]["incremental_ingest_s"] = ss.ingest_s
        report["setup"]["index_pages_s"] = ss.index_s
    extra_checks = []
    if hasattr(work_, "readback"):
        req, payload, rb_s = work_.readback()
        report["readback_ms"] = rb_s * 1e3
        extra_checks.append((req, payload))
    t0 = time.perf_counter()
    work_.warmup()
    report["warmup_s"] = time.perf_counter() - t0
    if args.trace:
        work_.repeat = 2  # each operation once per arm
        samples = timed_loop(work_, args.seconds, 2, tracer)
    else:
        samples = timed_loop(work_, args.seconds, work_.unit)
    t0 = time.perf_counter()
    checks = work_.verify([s.result for s in samples], extra_checks)
    report["verify_s"] = time.perf_counter() - t0
    return samples, checks


def layer_sweep(spark, host, work, work_, args, tracer) -> dict:
    """the per-layer sweep on the workload's inputs (building the other
    workload's inputs when this one has none)."""
    from perfbench import layers
    from perfbench.workloads import Flagship, build_serving
    fl = work_ if isinstance(work_, Flagship) else None
    if fl is None:
        fl = Flagship(spark, host, work, args.seed, tracer)
        fl.setup("layers")
    ss = getattr(work_, "ss", None) or build_serving(
        spark, host, os.path.join(work.path, "layers"), args.seed,
        stream=1)
    tracer.enabled = True
    out = layers.sweep(fl, ss, host, args.seed, tracer)
    out["engine.driver_peak_rss_mb"] = harness.peak_rss_mb()
    out["engine.jvm_peak_rss_mb"] = harness.peak_rss_mb(
        harness.jvm_pid(spark))
    return out


def run(args) -> dict:
    from perfbench import layers
    from perfbench.eventlog import EventLog
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    host = harness.HostShape.detect()
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": {"cores": host.cores,
                       "mem_total_mb": host.mem_total_mb,
                       "driver_memory_mb": host.driver_memory_mb}}
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    with harness.WorkDir(tag) as work:
        events = work.sub("events") if args.trace else None
        t0 = time.perf_counter()
        spark = harness.start_session(host, work, events)
        report["setup"] = {"session_start_s": time.perf_counter() - t0}
        tracer = Tracer(spark.sparkContext, enabled=False)
        try:
            work_ = WORKLOADS[args.workload](spark, host, work, args.seed,
                                             tracer)
            samples, checks = measure(work_, args, tracer, report)
            setup_s = report["setup"]["setup_s"]
            values, summ = e2e_metrics(
                work_, setup_s, [s for s in samples if not s.traced])
            report.update(e2e=values, summaries=summ, checks=checks,
                          errors=[s.error for s in samples if s.error])
            if args.trace:
                tvalues, tsumm = e2e_metrics(
                    work_, setup_s, [s for s in samples if s.traced])
                report["traced_e2e"] = {"values": tvalues,
                                        "summaries": tsumm}
                layer = layer_sweep(spark, host, work, work_, args, tracer)
        finally:
            harness.stop_session(spark)
        if args.trace:
            layer["engine.session_start_s"] = report["setup"][
                "session_start_s"]
            for m in ("throughput_per_s", "latency_ms_p50"):
                layer[f"trace.overhead.{m}"] = tvalues[m] - values[m]
            layer.update(layers.spark_metrics(EventLog.read(events),
                                              tracer, layer))
            report["layers"] = {k: v for k, v in layer.items()
                                if not k.startswith("_")}
            report["spans"] = tracer.to_json()
    attempted, failed = count_failures(samples, checks)
    report["named_metrics"] = named_metrics(
        args.workload, values, summ, attempted, failed, report)
    names = ([n for n, _, _ in PER_LAYER] if args.trace
             else [n for n, _, _ in END_TO_END])
    source = report["layers"] if args.trace else values
    report["result"] = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": source[n], "unit": UNITS[n]}
                    for n in names}}
    return report


def write_report(report: dict) -> str:
    os.makedirs(harness.RESULTS_DIR, exist_ok=True)
    path = os.path.join(
        harness.RESULTS_DIR, f"{report['workload']}-seed{report['seed']}"
        f"-trace{report['trace']}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return path


def print_table(report: dict):
    res = report["result"]
    print(f"# {report['workload']} seed={report['seed']} "
          f"trace={report['trace']} correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']}",
          file=sys.stderr)
    for name, m in res["metrics"].items():
        print(f"  {name:48s} {m['value']:>16.6g} {m['unit']}",
              file=sys.stderr)
    for name, v in report["named_metrics"].items():
        if isinstance(v, dict):
            v = (f"p{v['percentile']:g}={v['value']:.6g} ms "
                 f"(n={v['n']}, {v['beyond']} beyond)")
        print(f"  {name:48s} {v}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = missing_inputs()
    if missing:
        print("perfbench: not a checkout of the engine; missing "
              + ", ".join(missing), file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    report = run(args)
    path = write_report(report)
    print_table(report)
    print(f"# report: {path}", file=sys.stderr)
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
