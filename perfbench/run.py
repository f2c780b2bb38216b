"""Transcript-extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. The program under test is the
``pdf_extractors_spark`` package beside this directory, on Spark
``local[4]``. Every workload is a closed loop: one job at a time, the
next only after the previous one completed.

A run generates its input from the seed, checks it against the pinned
digests (``digests.json``), sets the session up three times, kills a
checkpointed extraction half-way, checks the outputs against the oracles,
runs one untimed pair, then measures for ``--seconds`` (and at least four
pairs), alternating the workload's timed job with resuming the killed
extraction. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it records spans around every call into the program and
reports the per-layer metrics instead. Timings are wall-clock scaled for
the CPU time the hypervisor stole meanwhile (``probe.NetTimer``); job and
resume times are also scaled by a calibration load timed before each of
them (``probe.calibration_s``).

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 0 when every
output was correct, 1 on an oracle mismatch, 2 when the program is
missing and 3 when the generated input no longer matches its pinned
digest. ``METRICS.md`` says which layer metric should move which
end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
CORES = 4
SETUPS = 3
DRIVER_MEM = "1g"
LOOP_SHARE = 0.6
MIN_SAMPLES = 4
# With the JVM's default tiered JIT, C2 kept recompiling Spark's code for
# minutes: back-to-back timed jobs of one session got 30-50% faster over
# 150 s, so a run's few timed jobs fell on a steep, timing-dependent part
# of that curve. With C1 alone, job times are flat from the first job on,
# about 15% slower than after minutes of C2.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(code: int, msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


# ---------------------------------------------------------------- session


def start_session(work: str, master: str = MASTER):
    from pdf_extractors_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        master=master,
        extra_conf={
            # keep every file Spark writes inside the run's work directory
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched at start-up (see
            # DRIVER_MEM in main()); no hsperfdata file in the system /tmp.
            # JIT: C1 only (JIT_OPTS).
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData {JIT_OPTS}"
            ),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and the JVM behind it, then wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    from probe import descendants

    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:  # not our direct child: reaped elsewhere
            pass


# ------------------------------------------------------------------- run


class Run:
    """State of one benchmark run: the session, the counters of attempted
    and failed operations and the turns that came back wrong."""

    def __init__(self, ctx, job, oracle, tracer, sampler):
        self.ctx = ctx
        self.job = job
        self.oracle = oracle
        self.tracer = tracer
        self.sampler = sampler
        self.spark = None
        self.template = os.path.join(ctx.work, "ckpt-killed")
        self.attempted = 0
        self.failed = 0
        self.turns_attempted = 0
        self.turns_wrong = 0
        self.steal: list[float] = []  # steal share during each timed operation
        self.cal: list[float] = []  # calibration time before each timed operation

    def timed_job(self) -> float:
        """Run the workload's job once; return its wall-clock seconds net
        of steal. A job that raises or whose output differs from the
        verified one counts as failed, with all its turns wrong."""
        from probe import NetTimer, calibration_s

        ctx = self.ctx
        self.cal.append(calibration_s())
        self.attempted += 1
        self.turns_attempted += ctx.turns
        with NetTimer() as t:
            try:
                with self.tracer.span("bench.job"):
                    out = self.job(self.spark, ctx, self.tracer)
            except Exception as e:  # a failed job is counted, not fatal
                print(f"perfbench: job failed: {e!r}", file=sys.stderr)
                out = None
        self.steal.append(t.steal)
        if out is None or (ctx.reference is not None and out.checksum != ctx.reference):
            self.failed += 1
            self.turns_wrong += ctx.turns
        else:
            self.turns_wrong += ctx.err_rows + abs(out.rows - ctx.turns)
        return t.seconds

    def setup(self, first: bool) -> tuple[float, float]:
        """``get_spark`` plus one warm-up job, each net of steal; the
        first set-up also boots the JVM. Returns ``(get_spark_s,
        warmup_s)``."""
        from probe import NetTimer

        if not first:
            with self.tracer.span("session.stop"):
                self.spark.stop()
        with NetTimer() as boot, self.tracer.span("session.get_spark"):
            self.spark = start_session(self.ctx.work)
        with NetTimer() as warm, self.tracer.span("bench.warmup"):
            self.job(self.spark, self.ctx, self.tracer)
        return boot.seconds, warm.seconds

    def verify(self) -> None:
        """The oracle pass: check the workload's output once and keep its
        checksum as the reference every timed job must reproduce."""
        import workloads

        ctx = self.ctx
        with self.tracer.span("bench.oracle"):
            ctx.reference = self.oracle(self.spark, ctx, self.tracer)
        if self.job is workloads.extract_job:  # the job's output is the extract
            ctx.extracted_checksum = ctx.reference
            ctx.err_rows = ctx.reference[1]

    def killed_run(self) -> None:
        """Kill a checkpointed run after half its buckets; the state it
        leaves is the template every resume starts from."""
        import workloads

        workloads.killed_run(self.spark, self.ctx, self.template, self.tracer)

    def resume(self) -> float:
        """Resume a fresh copy of the killed state; return its wall-clock
        seconds net of steal. The copy is not timed. A resume that raises
        or does not commit exactly the missing buckets counts as failed."""
        import workloads
        from probe import NetTimer, calibration_s

        ctx = self.ctx
        out = os.path.join(ctx.work, "ckpt-resume")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.template, out)
        self.cal.append(calibration_s())
        self.attempted += 1
        self.turns_attempted += ctx.turns
        with NetTimer() as t:
            try:
                result = workloads.checkpoint_run(self.spark, ctx, out, self.tracer)
                ok = workloads.resume_ok(result, out)
            except Exception as e:  # a failed resume is counted, not fatal
                print(f"perfbench: resume failed: {e!r}", file=sys.stderr)
                ok = False
        self.steal.append(t.steal)
        if ok:
            self.turns_wrong += ctx.err_rows
        else:
            self.failed += 1
            self.turns_wrong += ctx.turns
        return t.seconds

    def check_resumed(self) -> str:
        """Oracle check of the last resumed output; returns its path."""
        import workloads

        out = os.path.join(self.ctx.work, "ckpt-resume")
        workloads.oracle_checkpoint(self.spark, self.ctx, out, self.tracer)
        return out

    def interleaved(self, seconds: float) -> tuple[list[float], list[float]]:
        """Alternate timed jobs and resumes for ``seconds``, so that a
        slow spell of the machine hits both alike rather than one."""
        jobs: list[float] = []
        resumes: list[float] = []
        end = time.perf_counter() + seconds
        while min(len(jobs), len(resumes)) < MIN_SAMPLES or time.perf_counter() < end:
            jobs.append(self.timed_job())
            resumes.append(self.resume())
        self.check_resumed()
        return jobs, resumes


# ----------------------------------------------------------- measurements


def end_to_end(run: Run, seconds: float) -> dict:
    from statistics import median

    from probe import CAL_REF_S, tail_percentile

    ctx = run.ctx
    setups = []
    for i in range(SETUPS):
        get_s, warm_s = run.setup(first=(i == 0))
        setups.append(get_s + warm_s)
        log(f"set-up {i + 1}: get_spark {get_s:.2f} s + warm-up job {warm_s:.2f} s")
    run.killed_run()
    run.verify()
    # the first job and resume after a set-up took 20-50% longer than the
    # ones after them; this pair is not timed
    run.timed_job()
    run.resume()
    log("killed run, oracle pass and untimed pair done")
    run.sampler.reset_peaks()
    run.steal.clear()
    run.cal.clear()
    jobs, resumes = run.interleaved(seconds)
    log(f"timed jobs: {', '.join(f'{x:.2f}' for x in jobs)} s net of steal")
    log(f"resumes: {', '.join(f'{x:.2f}' for x in resumes)} s net of steal")
    log(f"steal share: {', '.join(f'{x:.3f}' for x in run.steal)}")
    log(f"calibration: {', '.join(f'{1e3 * x:.1f}' for x in run.cal)} ms net of steal")
    # job and resume times in seconds of a host as fast as the quiet one
    # CAL_REF_S was measured on (see probe.calibration_s)
    speed = CAL_REF_S / median(run.cal)
    jobs = [x * speed for x in jobs]
    resumes = [x * speed for x in resumes]
    peak = run.sampler.peak_tree_rss
    log(f"peak RSS: tree {peak / 2**20:.0f} MB, Python workers {run.sampler.peak_py_rss / 2**20:.0f} MB")
    job_p50 = median(jobs)
    tail = tail_percentile(jobs)
    print(
        f"{ctx.workload}: {ctx.turns} turns; setup_s over {len(setups)} set-ups, "
        f"job_s_p50 over {len(jobs)} jobs ("
        + (f"p{tail[0]:g}={tail[1]:.4f} s" if tail else "no tail percentile: too few samples")
        + f"), resume_s over {len(resumes)} resumes"
    )
    return {
        "setup_s": (median(setups), "s"),
        "turns_per_s": (ctx.turns / job_p50, "1/s"),
        "job_s_p50": (job_p50, "s"),
        "resume_s": (median(resumes), "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "error_frac": (run.turns_wrong / max(1, run.turns_attempted), "frac"),
    }


def sequential_kernel(ctx, tracer) -> tuple[dict[str, float], float, float]:
    """Single-threaded, in-process ``dispatch.extract_one`` over the
    workload's own turns plus a fixed calibration sample of every family
    and of the fallback path. Returns (µs per turn by family, turns/s over
    the workload's turns, kernel seconds over the workload's turns)."""
    from inputs import chat_turns
    from pdf_extractors_spark.extractors import dispatch
    from pdf_extractors_spark.fixtures import payloads

    tr = ctx.transcripts
    own = list(zip(tr.tool, tr.text))
    calib = [
        payloads.payload_for(f"calibration-{i}", 0, fam)
        for fam in payloads.FAMILIES
        for i in range(64)
    ] + chat_turns(64)
    busy: dict[str, float] = {}
    count: dict[str, int] = {}
    own_s = 0.0
    clock = time.perf_counter
    with tracer.span("extractors.dispatch.extract_one"):
        for n, (kind, text) in enumerate(own + calib):
            fam = kind if kind in dispatch.EXTRACTORS else "fallback"
            t0 = clock()
            dispatch.extract_one(kind, text)
            dt = clock() - t0
            busy[fam] = busy.get(fam, 0.0) + dt
            count[fam] = count.get(fam, 0) + 1
            if n < len(own):
                own_s += dt
    us = {fam: 1e6 * busy[fam] / count[fam] for fam in busy}
    return us, len(own) / own_s, own_s


def per_layer(run: Run, seconds: float) -> dict:
    from statistics import median

    import workloads
    from pdf_extractors_spark import checkpoint, pipeline, plans
    from pdf_extractors_spark.fixtures import payloads
    from pdf_extractors_spark.operators import salting
    from probe import LAYERS, NetTimer
    from pyspark.sql import functions as F

    ctx, tracer, sampler = run.ctx, run.tracer, run.sampler
    m: dict[str, tuple[float, str]] = {}
    get_s, warm_s = run.setup(first=True)
    m["session.get_spark_s"] = (get_s, "s")
    m["session.warmup_s"] = (warm_s, "s")
    run.killed_run()
    run.verify()

    # traced and untraced jobs alternate; the process-tree counters come
    # from the traced ones
    sampler.reset_peaks()
    traced: list[float] = []
    untraced: list[float] = []
    util, py_frac, b_in, b_out, py_cpu = [], [], [], [], []
    end = time.perf_counter() + seconds * LOOP_SHARE
    while len(traced) < MIN_SAMPLES or time.perf_counter() < end:
        tracer.enabled = False
        untraced.append(run.timed_job())
        tracer.enabled = True
        before = sampler.mark()
        traced.append(run.timed_job())
        d = sampler.mark().minus(before)
        # process CPU time excludes steal, so it is set against the
        # job's steal-scaled time
        util.append(d.tree_cpu_s / (traced[-1] * CORES))
        py_frac.append(d.py_cpu_s / d.tree_cpu_s if d.tree_cpu_s else 0.0)
        b_in.append(d.py_rchar / ctx.turns)
        b_out.append(d.py_wchar / ctx.turns)
        py_cpu.append(d.py_cpu_s)
    m["trace.overhead_frac"] = (median(traced) / median(untraced) - 1, "frac")
    m["pipeline.core_util"] = (median(util), "frac")
    m["pipeline.python_cpu_frac"] = (median(py_frac), "frac")
    m["pipeline.bytes_in_per_turn"] = (median(b_in), "B")
    m["pipeline.bytes_out_per_turn"] = (median(b_out), "B")
    m["pipeline.py_worker_peak_rss_mb"] = (sampler.peak_py_rss / 2**20, "MB")
    scan_path = ctx.extracted_path if run.job is workloads.conv_job else ctx.input_path
    with tracer.span("pipeline.input_splits"):
        m["pipeline.input_splits"] = (run.spark.read.parquet(scan_path).rdd.getNumPartitions(), "count")

    us, seq_tps, kernel_s = sequential_kernel(ctx, tracer)
    for fam in (*payloads.FAMILIES, "fallback"):
        m[f"extractors.us_per_turn.{fam}"] = (us[fam], "us")
    m["extractors.seq_turns_per_s"] = (seq_tps, "1/s")
    # conv_assemble's timed job runs no extraction kernel at all
    predicted = 0.0 if run.job is workloads.conv_job else kernel_s
    m["pipeline.overhead_frac"] = (1 - predicted / median(py_cpu), "frac")

    with tracer.span("plans.plan_audit"):
        ext = run.spark.read.parquet(ctx.input_path)
        m["plans.extract_exchanges"] = (
            plans.plan_audit(pipeline.extract_transcripts(ext)).n_exchanges,
            "count",
        )

    # checkpoint: cold run, killed run, resume
    cold_dir = os.path.join(ctx.work, "ckpt-cold")
    with NetTimer() as cold:
        workloads.checkpoint_run(run.spark, ctx, cold_dir, tracer)
    cold_s = cold.seconds
    files = [os.path.join(r, f) for r, _, fs in os.walk(cold_dir) for f in fs]
    m["checkpoint.cold_s"] = (cold_s, "s")
    m["checkpoint.files_written"] = (len(files), "count")
    m["checkpoint.bytes_written_per_input_byte"] = (
        sum(os.path.getsize(f) for f in files) / ctx.input_bytes,
        "B/B",
    )
    resumes = [run.resume()]
    out = run.check_resumed()
    share = (workloads.CHECKPOINT_BUCKETS // 2) / workloads.CHECKPOINT_BUCKETS
    m["checkpoint.resume_cost_ratio"] = ((median(resumes) / cold_s) / share, "frac")
    with NetTimer() as t:
        with tracer.span("checkpoint.committed_buckets"):
            checkpoint.committed_buckets(out)
        with tracer.span("checkpoint.metrics"):
            checkpoint.metrics(out)
    m["checkpoint.manifest_io_s"] = (t.seconds, "s")

    # conversation assembly over this workload's extracted table
    if ctx.extracted_path is None:
        workloads.materialise_extracted(ctx, tracer)
    ext = run.spark.read.parquet(ctx.extracted_path)
    with tracer.span("pipeline.conv_stitch_arrow"):
        stitched = pipeline.conv_stitch_arrow(ext.withColumnRenamed("extracted_text", "text"))
    with NetTimer() as t, tracer.span("pipeline.conv_stitch_arrow:collect"):
        stitched.agg(F.count("*")).collect()
    m["pipeline.stitch_s"] = (t.seconds, "s")
    with NetTimer() as t:
        with tracer.span("operators.salting.heavy_hitters"):
            heavy = salting.heavy_hitters(ext)
        with tracer.span("operators.salting.salted_conv_stats"):
            stats = salting.salted_conv_stats(ext, heavy_keys=heavy)
        with tracer.span("operators.salting.salted_conv_stats:collect"):
            stats.agg(F.count("*")).collect()
    m["operators.salting.stats_s"] = (t.seconds, "s")
    m["operators.salting.heavy_keys"] = (len(heavy), "count")
    with tracer.span("plans.plan_audit"):
        m["plans.conv_exchanges"] = (
            plans.plan_audit(stitched).n_exchanges + plans.plan_audit(stats).n_exchanges,
            "count",
        )

    # the timed job on one core against its median on four
    with tracer.span("session.stop"):
        run.spark.stop()
    with tracer.span("session.get_spark"):
        run.spark = start_session(ctx.work, master="local[1]")
    run.timed_job()  # warm-up
    m["pipeline.scaling_eff_1to4"] = (run.timed_job() / (CORES * median(untraced)), "frac")

    self_times = tracer.self_times()
    for layer in sorted((*LAYERS, "bench")):
        m[f"self_s.{layer}"] = (self_times.get(layer, 0.0), "s")
    return m


# ------------------------------------------------------------------ main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_extractors_spark", "__init__.py")):
        return fail(2, f"program not found: no pdf_extractors_spark package in {ROOT}")
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the package zip and every Python-side temp file stay in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # the short-lived JVM that spark-submit starts to build the driver's
    # command line would otherwise keep a perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # The driver heap, get_spark's deployment setting, is fixed and
    # pre-touched (see start_session). G1 grows a heap in timing-dependent
    # steps: with a heap that grew on demand, peak RSS of one input swung
    # by up to 70% between runs. Now the heap's share is constant and the
    # peak moves with what the program holds outside it (Python workers,
    # Arrow buffers, JVM native memory).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # glibc hands blocks from 128 KiB up straight back to the system
    # instead of keeping them in arenas that grow in timing-dependent
    # steps. This steadies the JVM's native memory; it costs the jobs
    # about 15%, on every commit alike.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["MALLOC_MMAP_THRESHOLD_"] = "131072"
    os.environ["MALLOC_TRIM_THRESHOLD_"] = "131072"

    import inputs
    import workloads
    from probe import Tracer, TreeSampler

    if args.workload not in workloads.WORKLOADS:
        return fail(2, f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    try:
        tr, snapshot = inputs.pinned_input(args.workload, args.seed)
    except inputs.DigestMismatch as e:
        shutil.rmtree(work, ignore_errors=True)
        return fail(3, str(e))
    log(f"input generated: {len(tr)} turns")
    input_path = os.path.join(work, "transcripts")
    ctx = workloads.Context(
        workload=args.workload,
        transcripts=tr,
        input_path=input_path,
        input_bytes=inputs.write_parquet(tr.to_arrow(), input_path),
        snapshot=snapshot,
        work=work,
    )
    job, oracle = workloads.WORKLOADS[args.workload]
    tracer = Tracer(enabled=bool(args.trace))
    if job is workloads.conv_job:
        workloads.materialise_extracted(ctx, tracer)
        log("extracted table written")
    try:
        with TreeSampler() as sampler:
            run = Run(ctx, job, oracle, tracer, sampler)
            measure = per_layer if args.trace else end_to_end
            metrics = measure(run, args.seconds)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    if args.trace:
        span_file = os.path.join(work_root, "spans", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(span_file)
        print(f"spans: {span_file}")

    for p in ctx.problems:
        print(f"perfbench: ORACLE MISMATCH: {p}", file=sys.stderr)
    correct = not ctx.problems and run.failed == 0
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
