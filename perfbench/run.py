"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload tenant_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its own state under
``perfbench/.work/`` (tables, landing directories, Spark local dirs and a
fresh TMPDIR, removed at the end), times a closed loop for ``--seconds``,
checks every operation against the reference, writes the full record to
``perfbench/results/`` and prints two JSON lines: the workload's named
metrics, then the summary ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 1`` makes a separate traced run whose metrics are the per-layer
ones. Workloads: see ``workloads.WORKLOADS`` and ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")


def canary_s() -> float:
    """A fixed, cheap CPU-bound probe: its wall time exposes a loaded box."""
    t0 = time.perf_counter()
    h = b"canary"
    for _ in range(20_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal (in clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def ambient() -> dict:
    return {"loadavg": list(os.getloadavg()), "canary_s": canary_s(),
            "cpu_ticks": cpu_ticks()}


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time taken by the hypervisor in between."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(sum(d), 1)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        for k in kids:
            out += [k, *_descendants(k)]
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every process under it: the
    JVM and any Python workers."""
    pids = [os.getpid(), *_descendants(os.getpid())]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


class Ctx:
    """Per-run state shared with the workload."""

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.run_dir = run_dir
        self.spark = None
        self.sc = None
        self.tracer = None
        self.phases: dict[str, float] = {}
        self.build_s = 0.0
        self.jobs: dict[str, tuple[int, int]] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def job_counts(self, group: str) -> tuple[int, int]:
        return self.jobs.get(group, (0, 0))

    def testdata(self, sf: float) -> str:
        """Generated analytics tables at ``sf``: an input, not program state,
        so it is built once per checkout and its build time is kept out of
        ``setup_s``."""
        path = os.path.join(WORK, "testdata", f"sf{sf:g}")
        if os.path.isdir(path):
            return path
        import gen_testdata

        t0 = time.perf_counter()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(path))
        for name, df in gen_testdata.gen_tables(self.spark, sf).items():
            df.write.mode("overwrite").parquet(os.path.join(tmp, f"{name}.parquet"))
        try:
            os.rename(tmp, path)
        except OSError:  # another run finished first
            shutil.rmtree(tmp, ignore_errors=True)
        self.build_s += time.perf_counter() - t0
        return path


def spark_threads() -> int:
    """Half the CPUs this process may use: the rest are left to the client
    thread, the JVM's own threads (JIT, GC, RPC) and the machine, so that a
    stage's tasks do not queue behind them and the run measures the program,
    not the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def isolate(run_dir: str, trace: bool) -> None:
    """Point every scratch location of this run (Python, Spark, JVM) into
    ``run_dir``; must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, the launcher's too: no hsperfdata files, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "--driver-java-options", f"-Dderby.system.home={run_dir}"]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def overhead_frac(tracer, probe, rounds: int = 7) -> float:
    """Median wall of a fixed probe operation traced over untraced, minus 1,
    alternating the two in one process."""
    on, off = [], []
    probe()
    for _ in range(rounds):
        for enabled, out in ((True, on), (False, off)):
            tracer.enabled = enabled
            t0 = time.perf_counter()
            with tracer.request("probe") if enabled else contextlib.nullcontext():
                probe()
            out.append(time.perf_counter() - t0)
    tracer.enabled = True
    from metrics import median

    return median(on) / median(off) - 1


def op_info(rec: dict) -> dict:
    out = {k: rec[k] for k in ("wall", "entry", "stream_s") if k in rec}
    if "up" in rec:
        up = rec["up"]
        out.update(rows=len(up.rows), full=up.full_update, invalid=up.invalid)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    from metrics import END_TO_END, PER_LAYER, metric
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-t{args.trace}-", dir=WORK)
    amb_start = ambient()
    ctx = Ctx(args, run_dir)
    wl = WORKLOADS[args.workload](ctx)
    trace = bool(args.trace)
    ev: dict = {}
    try:
        isolate(run_dir, trace)
        from client_data_ingester_spark.session import get_spark

        try:
            with ctx.phase("session"):
                ctx.spark = get_spark(cpus=spark_threads())
                ctx.sc = ctx.spark.sparkContext
            if trace:
                from spans import Tracer, job_counts

                ctx.tracer = Tracer(ctx.sc)
            wl.setup()
            t_loop = time.perf_counter()
            setup_s = t_loop - T0 - ctx.build_s
            wl.loop(t_loop + args.seconds)
            loop_s = time.perf_counter() - t_loop
            overhead = overhead_frac(ctx.tracer, wl.probe()) if trace else None
            rss = peak_rss_mb()
            wl.check()
            if trace:
                for g in ctx.tracer.job_groups():
                    ctx.jobs[g] = job_counts(ctx.sc, g)
                ctx.tracer.close()
        finally:
            wl.close()
            if ctx.spark is not None:
                stop_session(ctx.spark)
        if trace:
            from eventlog import group_metrics

            events = os.path.join(run_dir, "events")
            ev = group_metrics(*[os.path.join(events, f) for f in os.listdir(events)])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = wl.attempted, len(wl.failures)
    detail = {
        "setup_s": metric(setup_s, "s"),
        "op_fail_frac": metric(failed / max(attempted, 1), "ratio"),
        "peak_rss_mb": metric(rss, "MB"),
        **wl.detail(loop_s),
    }
    contract = {"setup_s": setup_s, **wl.contract(loop_s)}
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update({
            "session.start_s": ctx.phases.get("session", 0.0),
            "setup.seed_s": ctx.phases.get("seed", 0.0),
            "setup.artifacts_s": ctx.phases.get("artifacts", 0.0),
            "setup.warmup_s": ctx.phases.get("warmup", 0.0),
            "trace.overhead_frac": overhead,
        })
        extra = wl.layers(ev)
        layers.update({k: v for k, v in extra.items() if k in PER_LAYER})
        metrics = {k: metric(layers[k], u) for k, u in PER_LAYER.items()}
        checks = {k: v for k, v in extra.items() if k not in PER_LAYER}
    else:
        metrics = {k: metric(contract[k], u) for k, u in END_TO_END.items()}
        checks = {}
    amb_end = ambient()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "loop_s": loop_s, "build_s": ctx.build_s,
        "phases": ctx.phases, "ambient": {"start": amb_start, "end": amb_end},
        "steal_frac": steal_frac(amb_start["cpu_ticks"], amb_end["cpu_ticks"]),
        "detail": detail, "metrics": metrics, "trace_checks": checks,
        "ops": [op_info(r) for r in wl.timed()],
        "failures": wl.failures[:50],
    }
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(
        RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"workload": args.workload, "detail": detail,
                      "ambient": record["ambient"], "record": os.path.relpath(out, ROOT)},
                     default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
