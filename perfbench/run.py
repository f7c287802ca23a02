"""mtold-spark benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload clips_fresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workload's input is generated from
``--seed`` (and cached under ``.perfbench_cache/``), the engine runs in
``local[<cores>]`` with cores from the CPU affinity mask, and job calls
are repeated in passes (a pass processes the whole input once); the
number of passes is ``--seconds`` over the workload's nominal pass time.
Every call's output is checked; the run exits 1 when any call raised or
failed a check.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of BENCHMARK.json; with ``--trace 1`` the per-layer ones,
taken from spans the benchmark records around layer calls and from the
Spark event log under the job groups it sets. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "multi_task_offensive_language_detection_spark"
CACHE = os.path.join(ROOT, ".perfbench_cache")

#: input size per workload: (parts, rows per part) for the clips
#: workloads, documents before mutants for docs_dedup. ``tiny`` runs the
#: same code paths in seconds (self-test).
SIZES = {
    "full": {"clips_fresh": (16, 10_000), "clips_incremental": (6, 15_625), "docs_dedup": 10_000},
    "tiny": {"clips_fresh": (16, 200), "clips_incremental": (6, 200), "docs_dedup": 2_000},
}
#: BENCHMARK.json runs clips_fresh and docs_dedup; clips_incremental runs
#: by name (its set-up and warm-up cost per measured second is too high
#: for the time budget of a full round of runs)
WORKLOADS = ("clips_fresh", "clips_incremental", "docs_dedup")
#: nominal seconds of one pass on a 4-core host. A run makes
#: round(--seconds / nominal) passes (at least one): the work of a run is
#: fixed by its arguments, so a faster or slower pass never changes how
#: many passes are taken and the median is not biased by that choice.
NOMINAL_PASS_S = {"clips_fresh": 4.0, "clips_incremental": 12.0, "docs_dedup": 4.0}
#: rows of the warm-up scoring job that ends set-up
WARMUP_ROWS = 8_000

#: Spark per-job-group metrics reported in a traced run
SPARK_GROUPS = (
    "setup.warmup",
    "plans.pipeline.job",
    "sources.clips.scan",
    "plans.pipeline.salt",
    "functions.scrub",
    "plans.pipeline.score",
    "operators.dedup.features",
    "operators.dedup.pairs",
    "operators.dedup.candidates",
    "operators.dedup.bucket_stats",
)
UNITS = {"rows_per_s": "rows/s", "_s": "s", "_us": "us", "_mb": "MB", "_frac": "ratio",
         "_share": "ratio", "_yield": "ratio", "_skew": "ratio", "_recall": "ratio",
         "_f1_min": "ratio", "overhead": "ratio"}


def unit(name: str) -> str:
    """Unit by name suffix (first match); bare counts otherwise."""
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def passes(args) -> int:
    return max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB: far below RAM, and the
    job's driver-side state (collected stats, pair lists) is small."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)
    return f"{min(4096, total_mb // 4)}m"


def make_workload(name: str, size: str):
    import workloads

    cls = {
        "clips_fresh": workloads.ClipsFresh,
        "clips_incremental": workloads.ClipsIncremental,
        "docs_dedup": workloads.DocsDedup,
    }[name]
    return cls(SIZES[size][name])


def untraced_wall(args) -> float:
    """wall_s of an untraced run of the same workload, size and length: the
    stored result for this seed, else for any seed, from earlier runs in
    this checkout; with none stored, an untraced run is made first."""
    results = os.path.join(CACHE, "results")
    path = os.path.join(results, result_name(args, args.seed))
    if not os.path.exists(path):
        stored = sorted(glob.glob(os.path.join(results, result_name(args, "*"))), key=os.path.getmtime)
        if stored:
            path = stored[-1]
        else:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
                   "--size", args.size]
            subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True, timeout=170)
    with open(path) as f:
        return json.load(f)["wall_s"]


def result_name(args, seed) -> str:
    return f"{args.workload}-{args.size}-t{args.seconds:g}-s{seed}.json"


def session(work: str, traced: bool):
    from multi_task_offensive_language_detection_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return build_session(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent exits first (Spark's Python worker daemon and its
    workers outlive the JVM that forked them by a moment) is re-parented
    here instead of to init, so ``reap_all`` can wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left, which with
    ``adopt_orphans`` means no descendant at all; a child still running
    after ``grace_s`` seconds is killed (its orphans come here in turn)."""
    import tracing

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in tracing.children_map().get(os.getpid(), []):
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stop(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python worker)
    has exited: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warmup_job(spark, art_dir: str) -> None:
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.artifacts_build import build_all
    from multi_task_offensive_language_detection_spark.plans.pipeline import score_transcripts

    n = spark.sparkContext.defaultParallelism
    df = spark.range(WARMUP_ROWS, numPartitions=2 * n).select(
        F.lit("the people said they would go to the house").alias("transcript"),
        F.col("id").cast("string").alias("clip_id"),
    )
    score_transcripts(df, "transcript", build_all(art_dir)).agg(F.sum("ppl")).collect()


def measure(args, work: str, out) -> int:
    import tracing
    import workloads

    traced = bool(args.trace)
    wl = make_workload(args.workload, args.size)
    wl.prepare(os.path.join(CACHE, "inputs"), args.seed)
    ref_wall = untraced_wall(args) if traced else None
    probe_s = tracing.host_probe(cores())
    sampler = tracing.RssSampler() if traced else None
    if sampler:
        sampler.start()

    from multi_task_offensive_language_detection_spark.artifacts_build import build_all

    art_dir = os.path.join(work, "artifacts")
    t0 = time.perf_counter()
    spark = session(work, traced)
    t1 = time.perf_counter()
    tr = tracing.Tracer(spark, traced)
    run = workloads.Run(spark, art_dir, work, tr, corrupt=args.corrupt)
    layers = {}
    try:
        build_all(art_dir)
        t2 = time.perf_counter()
        with tr.group("setup.warmup"):
            warmup_job(spark, art_dir)
        setup = {
            "session.build_session_s": t1 - t0,
            "artifacts_build.build_all_s": t2 - t1,
            "setup.warmup_s": time.perf_counter() - t2,
        }
        wl.warmup(run)
        wl.instrument(tr)
        for _ in range(passes(args)):
            wl.run_pass(run)
            if run.failed:
                break
        tr.unwrap()
        if traced and not run.failed:
            layers = wl.probe(run)
    finally:
        tr.unwrap()
        if sampler:
            sampler.stop()
        stop(spark)

    wall = tracing.median(run.passes)
    e2e = {
        "setup_s": sum(setup.values()),
        "wall_s": wall,
        "rows_per_s": wl.rows_per_pass / wall if wall else 0.0,
        "job_p50_s": tracing.median(run.calls),
    }
    failed_frac = run.failed / max(run.attempted, 1)
    quality = min(run.quality) if run.quality else 0.0
    report = {**e2e, "failed_frac": failed_frac, wl.quality: quality, "host.probe_s": probe_s,
              "passes": len(run.passes)}
    if traced:
        report["trace.overhead"] = wall / ref_wall - 1 if ref_wall and wall else 0.0
        metrics = per_layer(wl, run, setup, layers, sampler, report["trace.overhead"], probe_s, work)
    else:
        metrics = e2e
        if not run.failed:
            os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
            with open(os.path.join(CACHE, "results", result_name(args, args.seed)), "w") as f:
                json.dump({"wall_s": wall}, f)
    correct = run.failed == 0 and run.attempted > 0
    print(f"perfbench {args.workload} seed={args.seed} cores={cores()} "
          + " ".join(f"{k}={v:.6g}{'' if unit(k) == 'count' else ' ' + unit(k)}"
                     for k, v in report.items())
          + " pass_walls_s=" + ",".join(f"{p:.3f}" for p in run.passes)
          + " call_s=" + ",".join(f"{c:.3f}" for c in run.calls), file=out)
    for e in run.errors[:20]:
        print(f"check failed: {e}", file=out)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": unit(k)} for k, v in metrics.items()},
    }), file=out)
    out.flush()
    return 0 if correct else 1


def declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def per_layer(wl, run, setup, layers, sampler, overhead, probe_s, work) -> dict:
    import tracing
    import workloads

    log = tracing.EventLog(os.path.join(work, "eventlog"))
    m = {**setup, **layers, "host.probe_s": probe_s, "trace.overhead": overhead,
         "worker_rss_mb": sampler.worker_mb, "spark.driver_rss_mb": sampler.jvm_mb,
         "spark.failed_tasks": log.failed_tasks}
    for name, xs in run.samples.items():
        m.setdefault(name, tracing.median(xs))
    for g in SPARK_GROUPS:
        for k, v in log.group_metrics(g).items():
            m[f"spark.{g}.{k}"] = v
    py = log.python_run_s("plans.pipeline.job")
    if py:
        udf_s = tracing.median(p for p, _ in py)
        m["plans.pipeline.python_stage_share"] = tracing.median(p / t for p, t in py if t)
        kern_s = sum(m[k] for k in workloads.KERNELS) * wl.rows_per_call / 1e6
        m["operators.scoring.kernel_share"] = kern_s / udf_s if udf_s else 0.0
    # a layer the workload never calls spent no time and did no work
    return {name: m.get(name, 0.0) for name in declared("per_layer")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: corrupt one output value before it is checked")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "fixtures", "clips_gen.py")
    ):
        print(f"perfbench: {ROOT} is not an mtold-spark checkout", file=sys.stderr)
        return 2

    adopt_orphans()
    work = os.path.join(CACHE, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cores()),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "MTOLD_ARTIFACT_DIR": os.path.join(work, "artifacts"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    sys.path[:0] = [ROOT, HERE]
    # Spark and its workers log to stdout in places; keep stdout for the
    # report and the result line alone
    out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    try:
        return measure(args, work, out)
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
