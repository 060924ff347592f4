"""gloomy-spark benchmark: one command per workload.

    python3 e2ebench/run.py --workload build|interactive|analytic \
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run generates its own seeded corpus and
query pools, starts a fresh local Spark session in a fresh work directory
under ``.e2ebench/``, runs the workload against the program's public entry
points for ``--seconds``, checks sampled answers against the pure-Python
oracle, and stops everything it started. ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the workload
untraced for half the time, then traced, and prints the per-layer metrics.
The last stdout line is the result object; the line before it (``detail``)
carries the per-workload metrics with their sample counts. Exit status is
1 on a wrong answer and 2 when the program or its set-up is missing or
broken. See e2ebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import numpy as np

from workloads import ANALYTIC_OPS, SLOTS, WORKLOADS, Ctx, best_window_p50, geomean_p50

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_PAGES = 3000
SHUFFLE_PARTITIONS = 16
DOC_BUCKET_WIDTH = 1 << 9
CORPUS_WRITES = 3
POOLS = {"bm25": 4000, "search": 1000, "phrases": 400, "kwic": 400}
# a run that has not finished by then stops with no result
WALL_LIMIT_S = 170
# the end-to-end metrics of BENCHMARK.json; the wall-clock latencies and
# rates stay in the detail line (see README.md for why they are not gated)
GATED = ("setup_s", "cpu_ms_per_op", "index_bytes_per_text_byte")


T0 = time.perf_counter()


class Deadline(Exception):
    pass


def log(msg: str) -> None:
    print(f"[e2ebench {time.perf_counter() - T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, 0s where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def start_spark(workdir: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    b = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("e2ebench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(workdir, "eventlog"))
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (which takes its Python workers
    down), and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort below
            proc.kill()
            proc.wait()


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gloomy_spark", "__init__.py")):
        print(f"no gloomy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".e2ebench", f"work-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    os.makedirs(os.path.join(workdir, "eventlog"))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # the launcher JVM would otherwise write its perf-data file to the
    # system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)

    def on_alarm(_signum, _frame):
        raise Deadline(f"run exceeded {WALL_LIMIT_S} s")

    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WALL_LIMIT_S)
    try:
        return run(args, workdir)
    except Exception:  # noqa: BLE001 — reported; the run has no result
        traceback.print_exc()
        return 2
    finally:
        signal.alarm(0)
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, workdir: str) -> int:
    from checks import Checker
    from corpus import generate_pages, make_queries
    from tracing import Tracer, read_event_log

    from gloomy_spark.config import EngineConfig

    steal0, total0 = cpu_ticks()
    t = time.perf_counter()
    corpus = generate_pages(args.seed, N_PAGES)
    queries = make_queries(args.seed, corpus, POOLS)
    generate_s = time.perf_counter() - t
    log(f"generated {len(corpus.texts)} pages in {generate_s:.1f} s")
    cfg = EngineConfig(
        shuffle_partitions=SHUFFLE_PARTITIONS, doc_bucket_width=DOC_BUCKET_WIDTH
    )
    t = time.perf_counter()
    checker = Checker(corpus, cfg)
    oracle_s = time.perf_counter() - t
    log(f"oracle built in {oracle_s:.1f} s")
    writes = []
    for i in range(CORPUS_WRITES):
        path = os.path.join(workdir, f"pages-{i}.parquet")
        t = time.perf_counter()
        corpus.write_parquet(path)
        writes.append(time.perf_counter() - t)
    pages_path = path

    tracer = Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    spark = start_spark(workdir, bool(args.trace))
    spark_start_s = time.perf_counter() - t
    log(f"spark started in {spark_start_s:.1f} s; running {args.workload}")
    try:
        ctx = Ctx(spark, cfg, corpus, queries, checker, tracer, pages_path,
                  workdir, args.seed, args.seconds, bool(args.trace))
        res = WORKLOADS[args.workload](ctx)
    finally:
        stop_spark(spark)
    log("spark stopped")
    jobs = read_event_log(os.path.join(workdir, "eventlog")) if args.trace else []
    steal1, total1 = cpu_ticks()

    setup_s = spark_start_s + med(writes) + sum(res.setup.values())
    s = res.samples
    w = args.workload
    if w == "build":
        named = {
            "build_docs_per_s": (med(s["docs_per_s"]), "1/s", len(s["docs_per_s"])),
            "latency_ms": (med(s["build_s"]) * 1000.0, "ms", len(s["build_s"])),
            "index_bytes_per_text_byte": (
                med(s["index_bytes_per_text_byte"]), "ratio",
                len(s["index_bytes_per_text_byte"])),
        }
    elif w == "interactive":
        done = res.extra["completed"]
        b, q = s.get("bm25_ms", []), s.get("search_ms", [])
        named = {
            "throughput_per_s": (done / res.extra["window_s"], "1/s", int(done)),
            "latency_ms": (best_window_p50(res), "ms", len(s["request_ms"])),
            "p50_ms": (med(s["request_ms"]), "ms", len(s["request_ms"])),
            "bm25_p50_ms": (med(b), "ms", len(b)),
            "bm25_p95_ms": (pct(b, 95), "ms", len(b)),
            "search_p50_ms": (med(q), "ms", len(q)),
            "search_p80_ms": (pct(q, 80), "ms", len(q)),
        }
    else:
        n_ops = sum(len(s[f"{k}_ms"]) for k in ANALYTIC_OPS)
        named = {f"{k}_p50_ms": (med(s[f"{k}_ms"]), "ms", len(s[f"{k}_ms"]))
                 for k in ANALYTIC_OPS}
        named["latency_ms"] = (geomean_p50(res), "ms", n_ops)
        named["analytic_ops_per_s"] = (res.extra["ops_per_s"], "1/s", n_ops)
    if w != "build":
        named["index_bytes_per_text_byte"] = (
            res.extra["index_bytes_per_text_byte"], "ratio", 1)
    if "cpu_ms_per_op" in res.extra:
        named["cpu_ms_per_op"] = (res.extra["cpu_ms_per_op"], "ms",
                                  named["latency_ms"][2])
    named["setup_s"] = (setup_s, "s", 1)

    correct = res.wrong == 0

    detail = {
        "workload": w, "seed": args.seed, "seconds": args.seconds,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in named.items()},
        "setup_pieces_s": {"spark_start_s": spark_start_s, "corpus_write_s": med(writes),
                           **res.setup},
        "generate_s": generate_s, "oracle_s": oracle_s,
        "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "attempted": res.attempted, "failed": res.failed, "wrong": res.wrong,
        "errors": res.errors[:5],
    }
    if args.trace:
        from layers import per_layer

        metrics = per_layer(w, res, tracer, jobs, spark_start_s, corpus.text_bytes)
        os.makedirs(os.path.join(ROOT, ".e2ebench", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".e2ebench", "traces",
                                  f"{w}-seed{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": named[k][0], "unit": named[k][1]} for k in GATED}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
