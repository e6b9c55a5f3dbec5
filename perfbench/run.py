#!/usr/bin/env python3
"""Extraction benchmark: runs the pipeline in ``plans.pipeline`` end to end on
one workload and prints one JSON result line.

    python3 perfbench/run.py --workload html_extract --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json from an
untraced session; ``--trace 1`` reports the per-layer metrics from a traced
session (Spark event log + spans around each layer call) and writes the
spans to ``perfbench/.data/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# documents per workload input; sized so one warm pass of the timed phase
# takes ~1.5-2 s (html, pdf) and one warc_resume round ~10 s on 4 slots
SIZES = {"html_extract": 5000, "pdf_extract": 1000, "warc_resume": 400}
SETUP_ROUNDS = 3
# later passes of a session keep getting faster (JIT), so a run whose
# passes straddle the time limit would report a different median for
# one pass more or less; a floor of whole passes keeps warc_resume
# (~6 s per round) at two rounds per run of 8 s
MIN_PASSES = 2
MAX_SLOTS = 4
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class PeakRss:
    """Highest summed resident memory of this process and its descendants
    (the JVM and its Python workers), sampled from /proc in a thread.

    A process counts from its second sample on, at the smaller of its two
    latest readings: a child the JVM spawns shares the JVM's address space
    until it execs (vfork/posix_spawn), and its first reading would count
    the JVM twice."""

    PERIOD_S = 0.1

    def __init__(self):
        self.peak = 0
        self._last: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> dict[int, int]:
        """pid → resident bytes of this process and its descendants."""
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat", "rb") as f:
                        parent[int(name)] = int(f.read().rsplit(b")", 1)[1].split()[1])
                except OSError:
                    continue  # process ended while listing
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        rss, frontier = {}, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            frontier.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    rss[pid] = int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return rss

    def _sample(self) -> None:
        now = self._tree()
        total = sum(min(b, self._last[pid]) for pid, b in now.items() if pid in self._last)
        self.peak = max(self.peak, total)
        self._last = now

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def start_session(data_dir: str, slots: int, event_log_dir: str | None = None):
    from pdf_parser_benchmark_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(data_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(data_dir, "warehouse"),
        # the whole heap is committed and touched at JVM start, so the
        # JVM's share of peak_rss_mb does not depend on when GC grew it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(data_dir, 'tmp')} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=slots, extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM that the first session launched and wait for it: it
    exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def timed_passes(wl, spark, seconds: float, tracer=None) -> tuple[list[dict], float]:
    """Whole passes of the workload's timed phase until ``seconds`` have
    passed, and at least MIN_PASSES; returns them and the peak RSS (MB)
    while they ran."""
    passes = []
    with PeakRss() as rss:
        end = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < end:
            passes.append(wl.run_pass(spark, tracer))
    return passes, rss.peak / 2**20


def collect(passes: list[dict], key: str) -> list[float]:
    return [v for p in passes for v in p.get(key, [])]


def counts(passes: list[dict], verified: bool) -> tuple[int, int]:
    """(attempted, failed): documents plus phases of the timed passes. A
    failed check fails every phase it covers; the final checks cover every
    pass, since each pass's output must equal the checked one."""
    attempted = sum(p["docs"] + p["phases"] for p in passes)
    failed = sum(
        p["doc_errors"] + (p["phases"] if p["bad"] or not verified else 0) for p in passes
    )
    return attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_benchmark_spark", "plans", "pipeline.py")):
        print(f"perfbench: no pdf_parser_benchmark_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the JVM and its Python workers inherit these when the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    data_dir = os.path.join(HERE, ".data", args.workload)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(os.path.join(data_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(data_dir, "tmp")

    from perfbench import inputs, layers
    from perfbench.trace import EventLog, Tracer, instrument
    from perfbench.workloads import ExtractWorkload, WarcResumeWorkload

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    kind = WarcResumeWorkload if args.workload == "warc_resume" else ExtractWorkload
    wl = kind(SIZES[args.workload], data_dir)

    # generate the rows while the JVM starts
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        rows = pool.submit(inputs.select, args.seed, args.workload, SIZES[args.workload])
        spark = start_session(data_dir, slots)
        makeup = wl.prepare(spark, *rows.result())
    details = {"workload": args.workload, "seed": args.seed, "slots": slots,
               "input": makeup, "prepare_s": time.perf_counter() - t0}

    # set-up rounds: a fresh session, then one untimed pass of every timed
    # phase (the first pass of a session runs ~2x slower than later ones)
    setup_s, warmup_s = [], []
    for _ in range(1 if args.trace else SETUP_ROUNDS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(data_dir, slots)
        t1 = time.perf_counter()
        wl.run_pass(spark)
        setup_s.append(time.perf_counter() - t0)
        warmup_s.append(time.perf_counter() - t1)

    passes, peak_mb = timed_passes(wl, spark, args.seconds)
    pass_s = [p["wall_s"] for p in passes]
    details.update(setup_s=setup_s, warmup_pass_s=warmup_s, pass_s=pass_s,
                   docs_per_s=collect(passes, "docs_per_s"))

    if not args.trace:
        bad = wl.verify(spark, passes)
        spark.stop()
        values = {
            "setup_s": statistics.median(setup_s),
            "docs_per_s": statistics.median(collect(passes, "docs_per_s")),
            "peak_rss_mb": peak_mb,
            # extract_pages keeps no checkpoint: after an interruption the
            # whole input is redone on a fresh session, and a rerun redoes
            # it warm; warc_resume measures its real resume and rerun
            "resume_s": statistics.median(collect(passes, "resume_s") or warmup_s),
            "rerun_s": statistics.median(collect(passes, "rerun_s") or pass_s),
        }
        metrics = spec["end_to_end"]
    else:
        untraced = statistics.median(collect(passes, "docs_per_s"))
        spark.stop()
        log_dir = os.path.join(data_dir, "eventlog")
        os.makedirs(log_dir)
        spark = start_session(data_dir, slots, event_log_dir=log_dir)
        wl.run_pass(spark)  # warm-up of the traced session
        tracer = Tracer(spark.sparkContext)
        with instrument(tracer):
            passes, _ = timed_passes(wl, spark, args.seconds, tracer)
        if hasattr(wl, "decode_passes"):
            wl.decode_passes(spark, tracer)
        bad = wl.verify(spark, passes)
        spark.stop()
        (log_path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        values = wl.layer_metrics(EventLog(log_path), tracer, slots)
        values.update(layers.layer_metrics(args.seed, wl.class_counts()))
        traced = statistics.median(collect(passes, "docs_per_s"))
        values["trace.docs_per_s"] = traced
        values["trace.docs_per_s_untraced"] = untraced
        values["trace.overhead_pct"] = 100 * (untraced - traced) / untraced
        metrics = spec["per_layer"]
        trace_dir = os.path.join(HERE, ".data", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({**details, "spans": tracer.spans, "metrics": values}, f, indent=1)

    attempted, failed = counts(passes, verified=not bad)
    for b in bad[:20]:
        print(f"perfbench: check failed: {b}", file=sys.stderr)
    print(json.dumps(details), file=sys.stderr)
    result = {
        "correct": not bad and not any(p["bad"] for p in passes),
        "attempted": attempted,
        "failed": failed,
        # a layer that does no work in this workload reports 0
        "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in metrics},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        code = main()
    finally:
        stop_jvm()
    sys.exit(code)
