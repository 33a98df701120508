"""fg-spark benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload {backfill,daily_ingest,neardup} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything
the run writes stays under ``.perfbench/`` in the repository root; see
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from spans import Tracer, covered

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
SETUP_REPS = 3
CACHE_KEEP = 6  # generated inputs kept per kind
SPIN_N = 1_000_000
REF_SECONDS = 8  # timed window of a fallback untraced reference run
REF_TIMEOUT = 75  # s; leaves the traced run its own time within 180 s


def spin() -> float:
    """A fixed single-thread loop: a reading of host speed (diagnostic)."""
    t = time.perf_counter()
    acc = 0
    for i in range(SPIN_N):
        acc += i & 7
    return time.perf_counter() - t


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Op:
    kind: str
    gid: str
    t0: float  # time.time()
    t1: float
    rows: int = 0
    ok: bool = True
    notes: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Run:
    """One run's ops, counters and tracer; passed to the workload."""

    def __init__(self, run_dir: str, tracer: Tracer):
        self.dir = run_dir
        self.tracer = tracer
        self.ops: list[Op] = []
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def op(self, kind: str, fn, rows: bool = False) -> None:
        """Run ``fn`` as one op: own job group, span and wall time. An
        exception (including a failed output check) counts as failed."""
        gid = f"{kind}-{len(self.ops)}"
        self.spark.sparkContext.setJobGroup(gid, kind)
        self.tracer.op = gid
        rec = Op(kind, gid, time.time(), 0.0)
        self.ops.append(rec)
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(kind):
                out = fn()
            rec.rows = int(out or 0) if rows else 0
        except Exception:  # an op failure is counted, the loop goes on
            traceback.print_exc()
            rec.ok = False
            self.failed += 1
        rec.t1 = rec.t0 + (time.perf_counter() - t)
        self.tracer.op = None
        self.spark.sparkContext.setJobGroup("between", "")

    def note(self, **kw) -> None:
        self.ops[-1].notes.update(kw)

    def ops_of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.ok]


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def session(run_dir: str, event_dir: str | None):
    from featuregenerator_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{event_dir}",
            "spark.eventLog.compress": "false",
        })
    k = cores()
    spark = get_spark("perfbench", cores=k, shuffle_partitions=k, extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def prune_cache(cache_dir: Path) -> None:
    by_kind: dict[str, list[Path]] = {}
    for p in cache_dir.iterdir():
        by_kind.setdefault(p.name.split("-")[0], []).append(p)
    for paths in by_kind.values():
        paths.sort(key=lambda p: p.stat().st_mtime, reverse=True)
        for p in paths[CACHE_KEEP:]:
            shutil.rmtree(p, ignore_errors=True)


def end_to_end(wl, run: Run, setups: list[float], timed_wall: float) -> dict:
    rows = sum(o.rows for o in run.ops_of(wl.rows_kind))
    return {
        "setup_s": (median(setups), "s"),
        "rows_per_s": (rows / timed_wall if timed_wall > 0 else 0.0, "1/s"),
        "op_p50_s": (median(o.wall for o in run.ops_of(wl.primary)), "s"),
        "read_p50_s": (median(o.wall for o in run.ops_of("read")), "s"),
    }


def growth(walls: list[float]) -> float:
    """median of the last five ÷ median of the first five (halves when
    fewer than ten)."""
    k = min(5, max(1, len(walls) // 2))
    return median(walls[-k:]) / median(walls[:k]) if walls else 0.0


def per_layer(wl, run: Run, groups: dict, spans: dict, table_bytes: tuple,
              overhead: float) -> dict:
    from eventlog import Group

    tr = run.tracer
    prim = run.ops_of(wl.primary)
    pg = [(o, groups.get(o.gid, Group())) for o in prim]
    k = cores()

    def per_op(fn) -> float:
        return median(fn(o, g) for o, g in pg)

    def span_med(name: str, kinds: tuple) -> float:
        return median(s.dur for s in tr.named(name)
                      if s.op and s.op.rsplit("-", 1)[0] in kinds)

    plan = [s for s in tr.named("snapshots.plan_files")
            if s.op and s.op.startswith("read-")]
    kept = sum(s.attrs.get("kept", 0) for s in plan)
    seen = kept + sum(s.attrs.get("pruned", 0) for s in plan)
    cand = per_op(lambda o, g: g.sql_metric.get("number of output rows", 0))
    out_pairs = median(o.notes.get("output_pairs", 0) for o in prim)
    manifest, meta_per_commit = table_bytes
    sink = "snapshots.commit_append" if wl.primary == "day" else "sink"
    return {
        "session.get_spark_s": (median(spans["get_spark"]), "s"),
        "snapshots.stage_s": (median(spans["stage"]), "s"),
        "snapshots.manifest_bytes": (manifest, "bytes"),
        "snapshots.metadata_bytes_per_commit": (meta_per_commit, "bytes"),
        "snapshots.jobs_s": (per_op(lambda o, g: g.module_run_s.get("sources/snapshots.py", 0.0)), "s"),
        "snapshots.plan_files_s": (median(s.dur for s in plan), "s"),
        "snapshots.files_kept_frac": (kept / seen if seen else 0.0, "ratio"),
        "job.jobs_s": (per_op(lambda o, g: g.module_run_s.get("job.py", 0.0)), "s"),
        "job.op_growth": (growth([o.wall for o in prim]), "ratio"),
        "pipeline.build_s": (span_med("pipeline.build", (wl.primary,)), "s"),
        "pipeline.sink_s": (span_med(sink, (wl.primary,)), "s"),
        "neardup.candidate_pairs": (cand, "count"),
        "neardup.output_pairs": (out_pairs, "count"),
        "neardup.verify_yield": (out_pairs / cand if cand else 0.0, "ratio"),
        "spark.jobs_per_op": (per_op(lambda o, g: g.jobs), "count"),
        "spark.stages_per_op": (per_op(lambda o, g: g.stages), "count"),
        "spark.tasks_per_op": (per_op(lambda o, g: g.tasks), "count"),
        "spark.plan_s": (per_op(lambda o, g: (g.first_submit or o.t1) - o.t0), "s"),
        "spark.driver_s": (per_op(lambda o, g: o.wall - covered(g.job_spans, o.t0, o.t1)), "s"),
        "spark.executor_run_s": (per_op(lambda o, g: g.executor_run_s), "s"),
        "spark.executor_cpu_s": (per_op(lambda o, g: g.executor_cpu_s), "s"),
        "spark.gc_s": (per_op(lambda o, g: g.gc_s), "s"),
        "spark.shuffle_write_bytes": (per_op(lambda o, g: g.shuffle_write_bytes), "bytes"),
        "spark.shuffle_read_bytes": (per_op(lambda o, g: g.shuffle_read_bytes), "bytes"),
        "spark.spill_bytes": (per_op(lambda o, g: g.spill_bytes), "bytes"),
        "spark.occupancy": (per_op(lambda o, g: g.executor_run_s / (k * o.wall)), "ratio"),
        "spark.straggler_ratio": (per_op(lambda o, g: g.straggler_ratio()), "ratio"),
        "warmup_s": (spans["warmup"], "s"),
        "host.spin_s": (median(spans["spin"]), "s"),
        "trace.overhead_frac": (overhead, "ratio"),
    }


def untraced_reference(args, results: Path) -> float:
    """Median untraced ``op_p50_s`` recorded for this workload (runs of the
    same ``--seconds`` when there are any). When none is recorded yet,
    make one short untraced run first, in a separate process group that
    is killed and waited for if it overruns, so the traced run still ends
    in time; its figure then comes from fewer, earlier ops."""
    def recorded():
        if not results.exists():
            return []
        recs = [json.loads(line) for line in results.read_text().splitlines()]
        same = [r for r in recs if r.get("seconds") == args.seconds]
        return [r["op_p50_s"] for r in same or recs]

    if not recorded():
        proc = subprocess.Popen(
            [sys.executable, __file__, "--workload", args.workload,
             "--seed", str(args.seed),
             "--seconds", str(min(args.seconds, REF_SECONDS)), "--trace", "0"],
            stdout=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            proc.wait(timeout=REF_TIMEOUT)
        except subprocess.TimeoutExpired:
            log("untraced reference run overran; overhead reads 0")
            kill_group(proc)
            shutil.rmtree(WORK / f"run-{proc.pid}", ignore_errors=True)
    ref = recorded()
    return median(ref) if ref else 0.0


def kill_group(proc: subprocess.Popen) -> None:
    """Kill a child's whole process group (the child and its JVM) and
    wait until every member has exited."""
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 30  # a zombie still answers signal 0
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "featuregenerator_spark" / "job.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_dir = WORK / f"run-{os.getpid()}"
    cache = WORK / "cache"
    tmp = run_dir / "tmp"
    for d in (cache, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = str(tmp)
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (
            os.environ.get(var, "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(run_dir / "checkpoints")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    results = WORK / f"untraced-{args.workload}.jsonl"
    overhead_ref = untraced_reference(args, results) if args.trace else 0.0

    tracer = Tracer(bool(args.trace))
    run = Run(str(run_dir), tracer)
    wl = WORKLOADS[args.workload](run)
    event_dir = str(run_dir / "events") if args.trace else None
    spins = [spin()]
    spark = None
    try:
        t = time.perf_counter()
        wl.generate(str(cache), args.seed)
        prune_cache(cache)
        log(f"inputs ready in {time.perf_counter() - t:.1f}s")

        setups, gs_walls, stage_walls = [], [], []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = session(str(run_dir), event_dir if rep == SETUP_REPS - 1 else None)
            t1 = time.perf_counter()
            run.spark = spark
            spark.sparkContext.setJobGroup(f"stage-{rep}", "stage")
            with tracer.span("snapshots.stage"):
                wl.stage(spark, rep)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            gs_walls.append(t1 - t0)
            stage_walls.append(t2 - t1)

        log(f"set-up walls {[round(x, 2) for x in setups]}")
        tracer.tag_call_sites(spark)
        wl.wrap(tracer)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        log(f"warm-up {warmup_s:.1f}s")
        spins.append(spin())

        t = time.perf_counter()
        while wl.step() and time.perf_counter() - t < args.seconds:
            pass
        timed_wall = time.perf_counter() - t
        log(f"timed phase {timed_wall:.1f}s, ops "
            f"{[(o.kind, round(o.wall, 2)) for o in run.ops if o.kind != 'land']}")
        t = time.perf_counter()
        spins.append(spin())
        wl.check()
        log(f"checks {time.perf_counter() - t:.1f}s")
        tracer.unwrap_all()
        e2e = end_to_end(wl, run, setups, timed_wall)
        table_bytes = wl.table_bytes()
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()

    spins.append(spin())
    log(f"host spin {[round(x, 3) for x in spins]}")
    if args.trace:
        import eventlog

        groups = eventlog.parse(
            eventlog.log_files(event_dir),
            sql_nodes=lambda n: wl.pair_join and "Join" in n,
        )
        op_p50 = e2e["op_p50_s"][0]
        overhead = op_p50 / overhead_ref - 1.0 if overhead_ref else 0.0
        metrics = per_layer(
            wl, run, groups,
            {"get_spark": gs_walls, "stage": stage_walls,
             "warmup": warmup_s, "spin": spins},
            table_bytes, overhead,
        )
        tracer.dump(str(WORK / f"spans-{args.workload}.json"))
    else:
        metrics = e2e
        with results.open("a") as f:
            f.write(json.dumps({"seed": args.seed, "seconds": args.seconds,
                                **{k: v for k, (v, _) in e2e.items()}}) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    timed_prim = run.ops_of(wl.primary)
    print(json.dumps({
        "correct": run.failed == 0 and bool(timed_prim),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
