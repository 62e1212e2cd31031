"""Extraction benchmark for pdf2dom_spark.

    python3 perfbench/run.py --workload rich_extract --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one Spark session at
local[nproc], closed loop: each timed job starts when the previous one has
returned. Inputs are generated from ``--seed`` into a work directory under
the checkout (``.perfbench_work/``, removed at exit) before the session
starts; the program only receives the generated table or files.

``--trace 0`` times repetitions of the workload for ``--seconds`` and
reports the end-to-end metrics; ``--trace 1`` runs the workload's job once
under the event log, traces the layers of one input batch single-process,
writes the spans to ``.perfbench_out/`` and reports the per-layer metrics.
Both check every checked job's (span count, checksum) against a reference
computed without Spark, and, at the default seed, against pinned values.
The last stdout line is one JSON object; a mismatch exits with code 1.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _since_process_start() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["rich_extract", "pdf_ingest", "checkpoint_resume"])
    p.add_argument("--seed", type=int, required=True)
    # the run length BENCHMARK.json fixes (run_seconds), the same on every
    # commit a comparison measures
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    return p.parse_args(argv)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_timed(wl, h, args, pre_s: float, pin: bool) -> dict:
    from perfbench import harness

    t0 = time.perf_counter()
    setup_s = pre_s + h.launch()
    spark = h.spark
    t1 = time.perf_counter()
    problems = wl.bind(spark, pin)
    t2 = time.perf_counter()
    wl.warm_up(spark)
    t3 = time.perf_counter()

    probes = [(harness.md5_probe(), harness.fresh_page_probe())]
    steal0 = harness.cpu_steal_s()
    reps, rss_peaks = [], []
    with harness.RssSampler(h.jvm_pid()) as rss:
        t_end = time.perf_counter() + args.seconds
        while len(reps) < wl.min_reps or time.perf_counter() < t_end:
            reps.append(wl.rep(
                spark, lambda: rss_peaks.append(rss.take_peak())))
    steal_s = harness.cpu_steal_s() - steal0
    probes.append((harness.md5_probe(), harness.fresh_page_probe()))
    t4 = time.perf_counter()
    h.close()

    med = statistics.median
    job_s = med(r.job_s for r in reps)
    metrics = {
        "docs_per_s": _metric(med(r.docs / r.job_s for r in reps), "1/s"),
        "job_s": _metric(job_s, "s"),
        # paired within a repetition, so a slow spell of the machine
        # slows both legs of a ratio alike
        "scaling_eff": _metric(med(r.single_s / r.base_s for r in reps),
                               "ratio"),
        "setup_s": _metric(setup_s, "s"),
        "peak_rss_mb": _metric(med(rss_peaks) / 2**20, "MB"),
    }
    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    extra = {
        "reps": len(reps),
        "job_s_reps": [r.job_s for r in reps],
        "single_s_reps": [r.single_s for r in reps],
        "peak_rss_mb_legs": [p / 2**20 for p in rss_peaks],
        "failed_frac": _metric(failed / attempted, "ratio"),
        "phase_s": {"setup": t1 - t0, "bind": t2 - t1, "warm": t3 - t2,
                    "loop": t4 - t3, "close": time.perf_counter() - t4},
        "probes_md5_s": [p[0] for p in probes],
        "probes_fresh_page_s": [p[1] for p in probes],
        "loop_cpu_steal_s": steal_s,
    }
    if reps[0].resume_s is not None:
        extra["resume_s"] = _metric(med(r.resume_s for r in reps), "s")
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "problems": problems, "extra": extra}


def run_traced(wl, h, args, pre_s: float, pin: bool) -> dict:
    from perfbench import trace

    h.launch()
    spark = h.spark
    problems = wl.bind(spark, pin)
    wl.warm_up(spark)
    # checked; its job_s is the untraced job time
    rep = wl.rep(spark, lambda: None)

    tracer = trace.Tracer()
    tables_totals = {"files_written": 0, "bytes_written": 0,
                     "lineage_rows_read": 0}
    trace.install_tables(tracer, tables_totals)
    spark.sparkContext.setJobGroup("timed", "traced job")
    t0 = time.time()
    try:
        with tracer.span("job"):
            wl.main_job(spark)
    finally:
        tracer.restore()
    wall = (t0, time.time())
    spark.sparkContext.setJobGroup("untraced", "after the traced job")
    job_spans = list(tracer.spans)

    layers = trace.kernel_layers(wl, tracer)
    kernel_s_per_doc = layers.pop("_kernel_s_per_doc")
    h.close()
    events = trace.event_metrics(
        h.event_dir, "timed", wall, h.cores,
        kernel_s_per_doc * wl.expect["full"][0])

    # the untraced job of the checked repetition against the traced one
    layers["trace.job_overhead_s"] = (wall[1] - wall[0]) - rep.job_s
    values = {**layers, **events,
              **{f"tables.{k}": v for k, v in tables_totals.items()}}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
            out_dir, f"trace-{wl.name}-seed{args.seed}.json"), "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed,
                   "job_spans": job_spans, "kernel_spans": tracer.spans,
                   "metrics": values}, fh)
    return {"metrics": {k: _metric(values[k], u)
                        for k, u in trace.UNITS.items()},
            "attempted": rep.attempted, "failed": rep.failed,
            "problems": problems,
            "extra": {"pipeline.shuffle_fetch_wait_s": _metric(
                values["pipeline.shuffle_fetch_wait_s"], "s")}}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # on SIGTERM unwind through the cleanup below (JVM shut down, every
    # child process stopped and waited for, work directory removed)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "pdf2dom_spark")):
        print("perfbench: no pdf2dom_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import multiprocessing

    import pyspark  # noqa: F401  (import time belongs to set-up)

    import pdf2dom_spark.extract  # noqa: F401
    from perfbench import harness, inputs, workloads

    pre_s = _since_process_start()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the generator pool, the JVM and the Python workers all write their
    # temporary files under the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    h = harness.Harness(ROOT, work, cores, event_log=bool(args.trace))
    harness.become_subreaper()
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, work, cores)
        t_gen = time.perf_counter()
        # forked before the JVM starts; unlike spawn, fork starts no
        # multiprocessing resource tracker that could outlive this process
        with multiprocessing.get_context("fork").Pool(cores) as pool:
            sizes = wl.generate(pool)
            pool.close()
            pool.join()
        sizes["generate_s"] = time.perf_counter() - t_gen
        runner = run_traced if args.trace else run_timed
        res = runner(wl, h, args, pre_s, pin=args.seed == inputs.DEFAULT_SEED)
    finally:
        try:
            h.close()
        finally:
            harness.reap_children()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # if no other run uses it
            except OSError:
                pass

    correct = res["failed"] == 0 and not res["problems"]
    print(f"# workload={args.workload} seed={args.seed} cores={cores} "
          f"inputs={json.dumps(sizes)}")
    for k, v in {**res["extra"], **res["metrics"]}.items():
        if isinstance(v, dict) and "unit" in v:
            v = f"{v['value']:.6g} {v['unit']}"
        print(f"# {k} = {v}")
    for p in res["problems"]:
        print(f"# MISMATCH {p}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
