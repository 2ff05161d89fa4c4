"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|refresh --seed N --seconds S --trace 0|1

Runs one workload on local[4] from the root of a source checkout. Inputs
come from ``--seed`` and are generated before timing starts; the measured
phase lasts ``--seconds``; every output is compared with the oracle.

stdout ends with two lines: a report (the report-only metrics, input
properties, failures, and with ``--trace 1`` the run's end-to-end
figures and the spans) and the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones,
both as declared in ``BENCHMARK.json``. The exit code is non-zero when any output disagrees with the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Context:
    """What a workload needs: session, tracer, scratch dir, seed, clock,
    memory sampler, and the sinks for checks, properties and report."""

    def __init__(self, spark, tracer, rss, work, seed, seconds, session_s):
        self.spark, self.tracer, self.rss = spark, tracer, rss
        self.work, self.seed, self.seconds = work, seed, seconds
        self.session_s = session_s
        self.setup_s = None
        self.attempted = 0
        self.failures: list[str] = []
        self.properties: dict = {"seed": seed}
        self.report: dict = {}  # report-only metrics: name -> {value, unit}
        self.textproc_ms_per_page = None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}"[:500])

    def note(self, name: str, value, unit: str) -> None:
        """Record a report-only metric (one the result line does not carry)."""
        self.report[name] = {"value": value, "unit": unit}

    def textproc_sample(self, htmls: list[str]) -> None:
        """extract_text + tokenize over a driver-side page sample."""
        from search_engine_spark.functions.textproc import extract_text, tokenize

        with self.tracer.span("functions.textproc.extract_text_tokenize"):
            t = time.perf_counter()
            for h in htmls:
                tokenize(extract_text(h))
            self.textproc_ms_per_page = (time.perf_counter() - t) * 1000.0 / len(htmls)


def per_span_table(tracer) -> dict:
    """{span name: {counter: median over the name's spans, 'calls': n}}."""
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s.counters)
    table = {}
    for name, rows in sorted(by_name.items()):
        keys = sorted({k for r in rows for k in r})
        table[name] = {k: statistics.median(r.get(k, 0) for r in rows) for k in keys}
        table[name]["calls"] = len(rows)
    return table


def layer_metrics(ctx, overhead_frac: float) -> dict:
    """The per-layer metrics both workloads produce (see BENCHMARK.json)."""
    spans = ctx.tracer.spans

    def med(prefix: str, key: str) -> float:
        vals = [s.counters.get(key, 0) for s in spans if s.name.startswith(prefix)]
        return statistics.median(vals) if vals else 0.0

    udf = [s.counters["udf_python_ms"] for s in spans if s.counters.get("udf_python_ms")]
    out = {
        "session.get_spark.wall_ms": ctx.session_s * 1000.0,
        "functions.textproc.ms_per_page": ctx.textproc_ms_per_page,
        "functions.textproc.python_ms": statistics.median(udf) if udf else 0.0,
    }
    for key in ("wall_ms", "driver_ms", "executor_cpu_ms", "queue_ms", "jobs",
                "rows_scanned_per_hit"):
        out[f"operators.query.{key}"] = med("operators.query.", key)
    out["trace.overhead_frac"] = overhead_frac
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine, the oracle and this package import from the checkout
    # root, in this process and in Spark's Python workers
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import search_engine_spark  # noqa: F401  (fails fast outside a checkout)
    from oracle import oracle  # noqa: F401

    from perfbench import refresh, serve
    from perfbench.common import RssSampler, start_session, stop_session
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t_ms = time.time() * 1000.0
        spark, session_s = start_session(work)
        tracer = Tracer(spark, bool(args.trace))
        tracer.add("session.get_spark", t_ms, t_ms + session_s * 1000.0)
        ctx = Context(spark, tracer, RssSampler(spark), work, args.seed, args.seconds, session_s)
        workload = {"serve": serve, "refresh": refresh}[args.workload]
        t = time.perf_counter()
        e2e = workload.run(ctx)
        overhead_frac = tracer.overhead_ms / 1000.0 / (time.perf_counter() - t)
        ctx.rss.sample()
        tracer.resolve()
        e2e["setup_s"] = ctx.setup_s
        ctx.note("peak_rss_mb", ctx.rss.peak_mb, "MB")
        ctx.properties["peak_rss_parts_mb"] = {"jvm": ctx.rss.jvm_peak,
                                               "python_worker": ctx.rss.worker_peak}
        ctx.note("error_rate", len(ctx.failures) / max(ctx.attempted, 1), "ratio")
        spans = per_span_table(tracer) if args.trace else None
        layers = layer_metrics(ctx, overhead_frac) if args.trace else None
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    # units as BENCHMARK.json declares them; the result line must carry
    # exactly the declared metrics of its kind
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    values = layers if args.trace else e2e
    assert set(values) == set(units), sorted(set(values) ^ set(units))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    report = {
        "workload": args.workload,
        "trace": args.trace,
        "metrics": ctx.report,
        "properties": ctx.properties,
        "failures": ctx.failures[:20],
    }
    if spans is not None:
        # the untraced run's result line carries these: their difference
        # from the traced run's is the tracing overhead
        report["end_to_end"] = e2e
        report["per_span"] = spans
        report["spans"] = [
            {"id": s.id, "name": s.name, "parent": s.parent, "start_ms": s.start_ms,
             "end_ms": s.end_ms, "counters": s.counters}
            for s in sorted(tracer.spans, key=lambda s: s.start_ms)
        ]
    print(json.dumps(report, default=float), flush=True)
    result = {
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if not ctx.failures else 1


if __name__ == "__main__":
    sys.exit(main())
