"""Benchmark entry point: one closed-loop client against ``local[nproc]``.

    python3 perfsuite/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. A run generates (or reuses) the seed's
inputs, sets the session up several times (each in a freshly launched
JVM), runs one cold pass whose every result is checked exactly, then a
fixed number of warm passes (a function of ``--seconds`` only) checked by
row count. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
adds traced passes and reports the per-layer metrics, and writes the
spans to a JSONL file when it ends. The last line of standard output is
the result object.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "udacitydatawarehouseprj_spark"
CACHE = os.path.join(HERE, ".cache")

#: Set-ups per run, each in a fresh JVM; ``setup_s`` is their median. A
#: set-up takes about 9 s on a 4-vCPU box, most of it JVM launch, so a
#: third one would not fit the benchmark's time budget next to the passes.
SETUPS = 2


def warm_passes(seconds: int) -> int:
    """Warm passes for a run of ``seconds``, the same rule for every
    workload: a function of the argument only, never of how fast the box
    is, so every run issues the identical operation sequence."""
    return max(2, round(seconds / 5))


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, size the session to the box, and quiet the console."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: no perf data files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The heap starts at its full size: when the JVM grows it on demand,
    # how far it grows varies from run to run, and so do the peak RSS and
    # the GC pattern.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{heap}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


class Run:
    """One benchmark run: set-ups, the cold pass, the warm passes."""

    def __init__(self, workload, seed: int, seconds: int, cache: str = CACHE) -> None:
        import datagen
        import procfs

        self.wl, self.seed, self.cache = workload, seed, cache
        self.procfs = procfs
        self.warm = warm_passes(seconds)
        t = time.perf_counter()
        self.inputs = datagen.ensure(os.path.join(cache, "inputs"),
                                     workload.input_kind, seed, **workload.input_size)
        self.generate_s = time.perf_counter() - t
        self.work_dir = os.path.join(cache, "work", workload.name)
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.box0 = procfs.cpu_times()

    # -- set-up -------------------------------------------------------------
    def setup(self) -> dict:
        """Set the session up ``SETUPS`` times: launch a JVM, build the
        session, register the inputs. The previous session and its JVM are
        stopped first, untimed. Interpreter start and imports happen once
        per process; their time (process start to the first set-up, less
        input generation) is added to every sample."""
        from udacitydatawarehouseprj_spark import session as S

        setup_s, start_s = [], []
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        import_s = time.perf_counter() - T_PROCESS - self.generate_s
        for _ in range(SETUPS):
            self.stop()
            t = time.perf_counter()
            self.spark = S.get_spark(f"perfsuite-{self.wl.name}", master=f"local[{cpus}]")
            self.spark.sparkContext.setLogLevel("ERROR")
            start_s.append(time.perf_counter() - t)
            S.load_tables(self.spark, self.inputs.root, self.wl.views)
            setup_s.append(import_s + time.perf_counter() - t)
        self.slots = self.spark.sparkContext.defaultParallelism
        return {"setup_s": setup_s, "start_s": start_s, "import_s": import_s}

    # -- passes -------------------------------------------------------------
    def run_pass(self, ops, first: bool, tracer=None) -> dict:
        """Issue every operation once. Times cover plan + action only; the
        checks, the shared-cache release and all bookkeeping sit outside."""
        from udacitydatawarehouseprj_spark import session as S
        from workloads import STAR_DIR

        S.release_shared_caches()
        idx = len(self.passes)
        box = self.procfs.cpu_times()
        engine0 = self._engine_totals() if tracer else None
        rec = {"index": idx, "first": first, "traced": tracer is not None}
        if tracer:
            tracer.install(self.spark.sparkContext)
        try:
            with _span(tracer, "pass"):
                rec["ops"] = [self._run_op(op, first, idx, tracer) for op in ops]
        finally:
            if tracer:
                tracer.uninstall()
        rec["op_s"] = sum(o["s"] for o in rec["ops"] if o["s"] is not None)
        rec["box"] = self.procfs.cpu_delta(box, self.procfs.cpu_times())
        if tracer:
            rec["engine"] = self._engine_delta(engine0, rec, tracer)
            rec["trace"] = tracer.take_pass_counters()
        rec["output"] = _dir_files(os.path.join(self.work_dir, STAR_DIR))
        self.passes.append(rec)
        return rec

    def _run_op(self, op, first: bool, idx: int, tracer) -> dict:
        from workloads import CheckFailed

        out = {"name": op.name, "s": None, "plan_s": None, "action_s": None,
               "query": op.is_query, "ok": False}
        self.attempted += 1
        group = f"p{idx}/{op.name}"
        try:
            with _span(tracer, f"op:{op.name}"):
                t0 = time.perf_counter()
                with _phase(tracer, f"{group}/plan", "plan"):
                    planned = op.plan(self.spark)
                t1 = time.perf_counter()
                with _phase(tracer, f"{group}/action", "action"):
                    result = op.action(planned)
                t2 = time.perf_counter()
            out.update(s=t2 - t0, plan_s=t1 - t0, action_s=t2 - t1)
            op.check(result, first)
            out["ok"] = True
        except CheckFailed as e:
            self._fail(f"pass {idx}: {e}")
        except Exception as e:  # an operation that raises is a failed operation
            self._fail(f"pass {idx}: {op.name} raised {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        return out

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:500])
        print(f"FAILED {msg[:500]}", file=sys.stderr)

    # -- engine counters (traced passes only) -------------------------------
    def _status_store(self):
        from py4j.protocol import Py4JError

        jsc = self.spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # a Spark without the method: give the bus a moment
            time.sleep(0.5)
        return jsc.statusStore()

    def _engine_totals(self) -> dict:
        ex = self._status_store().executorSummary("driver")
        return {"task_ms": ex.totalDuration(), "gc_ms": ex.totalGCTime(),
                "shuffle_write": ex.totalShuffleWrite(), "tasks": ex.totalTasks()}

    def _engine_delta(self, before: dict, rec: dict, tracer) -> dict:
        """Jobs, stages and tasks of the pass's job groups, task and GC
        time and shuffle bytes from the driver's executor summary, spill
        from the stage data."""
        after = self._engine_totals()
        store = self._status_store()
        st = self.spark.sparkContext.statusTracker()
        jobs: dict[str, int] = {}
        stages: set[int] = set()
        for group, kind in tracer.groups:
            ids = st.getJobIdsForGroup(group)
            jobs[kind] = jobs.get(kind, 0) + len(ids)
            for jid in ids:
                info = st.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
        tracer.groups.clear()
        run_stages = spill = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            run_stages += 1
            spill += store.lastStageAttempt(sid).diskBytesSpilled()
        task_s = (after["task_ms"] - before["task_ms"]) / 1000.0
        return {
            "jobs": sum(jobs.values()), "stages": run_stages,
            "tasks": after["tasks"] - before["tasks"],
            "task_s": task_s,
            "slot_busy_frac": task_s / (max(rec["op_s"], 1e-9) * self.slots),
            "gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000.0,
            "shuffle_write_bytes": after["shuffle_write"] - before["shuffle_write"],
            "spill_bytes": spill,
            "plan_jobs": jobs.get("plan", 0) + jobs.get("operator:plan", 0),
            "operator_jobs": jobs.get("operator:plan", 0) + jobs.get("operator:action", 0),
        }

    # -- end of run ---------------------------------------------------------
    def _jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident memory (MiB) of the JVM and of its Python workers,
        read once, before shutdown."""
        jvm = int(self._jvm_pid())
        workers = [p for p in self.procfs.descendants(jvm) if p != jvm]
        return {"jvm": self.procfs.peak_rss_mb([jvm]),
                "python_workers": self.procfs.peak_rss_mb(workers),
                "worker_processes": len(workers)}

    def stop(self) -> None:
        """Stop the session, then the JVM it ran in, and wait until the JVM
        and every Python worker it started have exited."""
        from pyspark import SparkContext

        from udacitydatawarehouseprj_spark import session as S

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        pids = self.procfs.descendants(int(self._jvm_pid()))
        S.release_shared_caches()
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            # the next session in this process launches a fresh JVM
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(map(self.procfs.running, pids)) and time.monotonic() < deadline:
            time.sleep(0.1)


def _span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


def _phase(tracer, group: str, kind: str):
    return tracer.phase(group, kind) if tracer else nullcontext()


def _dir_files(root: str) -> dict:
    """Data files and bytes under ``root`` (the ETL's star-schema output)."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"files": files, "bytes": size}


def execute(wl, seed: int, seconds: int, trace: bool, cache: str = CACHE) -> dict:
    """Run one workload; return the result line and the detail record."""
    import report
    import workloads

    run = Run(wl, seed, seconds, cache)
    try:
        setup = run.setup()
        workloads.reset_work_dir(run.work_dir)
        ops = wl.make_ops(run.inputs, run.work_dir)
        cold = run.run_pass(ops, first=True)
        traced, tracer = [], None
        if trace:
            import tracing

            tracer = tracing.Tracer(run.inputs.root)
            traced.append(run.run_pass(ops, first=False, tracer=tracer))
        warm = [run.run_pass(ops, first=False) for _ in range(run.warm)]
        if trace:
            # traced passes on both sides of the untraced ones, so the
            # warm-up trend between passes cancels in trace.overhead_s
            traced.append(run.run_pass(ops, first=False, tracer=tracer))
        rss = run.peak_rss_mb()
    finally:
        run.stop()
    return report.build(run, setup, cold, warm, traced, tracer, rss)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: no {PKG} package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    _prepare_environment()
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = execute(wl, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
