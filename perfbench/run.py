"""Catalog benchmark: one workload of oracle-gated queries, end to end and by layer.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the repository root. Each invocation is one run in a fresh
process, on ``local[<cores>]`` over tables that ``datagen.py`` writes once
into ``perfbench/.work/data``. The workload is a closed loop with one client:
a single driver thread submits one query at a time, each one
``Query.build(spark, sf_dir)`` followed by a noop-sink write. ``--seed`` sets
the order of the queries within a pass and nothing else.

A run sets up once, which launches the JVM, and measures in that session:
one cold pass, then an untimed check of every query's output against its
DuckDB oracle, which also lets the JIT compile the driver-side code, then
steady passes until ``--seconds`` have passed (at least three). With
``--trace 1`` a second session runs an untimed warm pass and steady passes
with Spark's event log on, and the log is folded per query into the
per-layer metrics.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the ``end_to_end`` metrics of
BENCHMARK.json, or its ``per_layer`` ones with ``--trace 1``). The line
before it records cores, load average, CPU steal, seed and error rate; the
full per-query record is written under ``perfbench/.work/runs``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = 0.1  # the scale bench.py runs at
MIN_STEADY_PASSES = 3
T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(cores: int) -> None:
    """Pin everything the JVM and its Python workers inherit to the checkout."""
    for sub in ("local", "tmp", "eventlog", "runs", "data"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    tmp = os.path.join(WORK, "tmp")
    jvm_files = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),  # Python workers import the package
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LAUNCHER_OPTS=jvm_files,  # the launcher JVM spark-submit runs first
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options",
                shlex.quote(jvm_files),
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
                "pyspark-shell",
            ]
        ),
    )


def _dataset(sf: float) -> str:
    """Directory of the generated tables at ``sf``; generated on first use."""
    import datagen

    with open(datagen.__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "data", f"sf{sf}-{digest}")
    if not os.path.isdir(out):
        tmp = out + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, sf)
        os.rename(tmp, out)
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


class PeakRss:
    """Peak resident memory of a process tree over a ``with`` block.

    Each process's own high-water mark (``VmHWM``) is reset on entry and read
    every ``interval_s``, so a short-lived Python worker still counts; the
    result is the sum of those per-process peaks, in MB.
    """

    def __init__(self, pid: int, interval_s: float = 0.25):
        self.pid, self.interval_s = pid, interval_s
        self.hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024

    def _sample(self) -> None:
        for pid in process_tree(self.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> PeakRss:
        for pid in process_tree(self.pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset VmHWM to the current RSS
            except OSError:
                continue
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class Bench:
    """One run: sessions, passes, oracle checks and the metrics they yield."""

    def __init__(self, workload, order: list[str], data: str, small: str):
        from data_engineering_assignment_spark.queries import load_catalog

        self.workload, self.order = workload, order
        self.data, self.small = data, small
        self.catalog = load_catalog()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    # -- session layer -------------------------------------------------
    def setup(self) -> dict[str, float]:
        """Start a session, warm it up and scan the workload's tables."""
        from data_engineering_assignment_spark.session import get_spark
        from data_engineering_assignment_spark.tables import load

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("OFF")
        t1 = time.perf_counter()
        for name in self.workload.warmup:
            self._noop(self.catalog[name].build(self.spark, self.small))
        t2 = time.perf_counter()
        for table in self.workload.tables:
            self._noop(load(self.spark, self.data, table))
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - t0,
            "session.get_spark_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "tables.scan_s": t3 - t2,
        }

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # -- query layer ---------------------------------------------------
    def run_pass(self, tag: str) -> dict:
        """One pass over the workload, each query tagged ``tag:name``."""
        sc = self.spark.sparkContext
        queries: dict[str, dict] = {}
        t_pass = time.perf_counter()
        for name in self.order:
            sc.setJobGroup(f"{tag}:{name}", name)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.catalog[name].build(self.spark, self.data)
                t1 = time.perf_counter()
                self._noop(df)
            except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
                self._fail(f"{tag}:{name}: {traceback.format_exc()}")
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            self.spark.catalog.clearCache()
            queries[name] = {"build_s": t1 - t0, "action_s": t2 - t1, "total_s": t2 - t0}
        wall = time.perf_counter() - t_pass
        self._count_jobs(tag, queries)
        return {"tag": tag, "wall_s": wall, "queries": queries}

    def _count_jobs(self, tag: str, queries: dict[str, dict]) -> None:
        """Jobs, stages run and tasks run per query, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        for name, rec in queries.items():
            stage_ids: set[int] = set()
            jobs = st.getJobIdsForGroup(f"{tag}:{name}")
            for job in jobs:
                info = st.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = 0
            for sid in stage_ids:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    stages += 1
                    tasks += info.numTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def steady(self, tag: str, seconds: float) -> list[dict]:
        """Passes for ``seconds``, and at least ``MIN_STEADY_PASSES``.

        Call it only after every query has run twice in this JVM (the cold
        pass, then a warm pass or the oracle check): a query's second run
        is still 20-40% slower while the JIT compiles the driver-side plan
        code.
        """
        passes: list[dict] = []
        t0 = time.perf_counter()
        while len(passes) < MIN_STEADY_PASSES or time.perf_counter() - t0 < seconds:
            passes.append(self.run_pass(f"{tag}:p{len(passes)}"))
        return passes

    def check(self) -> dict[str, dict]:
        """Compare every query's output with its DuckDB oracle.

        A query without an oracle, or one whose output is empty, fails too:
        an empty frame matches an empty oracle result without testing
        anything.
        """
        from data_engineering_assignment_spark.compare import compare_frames, run_oracle

        results = {}
        for name in self.workload.queries:
            query = self.catalog[name]
            self.spark.sparkContext.setJobGroup(f"check:{name}", name)
            self.attempted += 1
            t0 = time.perf_counter()
            rows = None
            try:
                got = query.build(self.spark, self.data).toPandas()
                rows = len(got)
                if query.oracle is None:
                    ok, detail = False, "no oracle"
                elif rows == 0:
                    ok, detail = False, "empty output"
                else:
                    res = compare_frames(name, got, run_oracle(query.oracle, self.data))
                    ok, detail = res.ok, res.detail
            except Exception as exc:  # noqa: BLE001 - an exception is a failed check
                ok, detail = False, f"{type(exc).__name__}: {exc}"
            if not ok:
                self._fail(f"oracle {name}: {detail}")
            results[name] = {"ok": ok, "rows": rows, "detail": detail}
            _log(f"oracle check {name}: {rows} rows, {time.perf_counter() - t0:.2f}s")
        return results

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def enable_event_log(self, log_dir: str) -> None:
        """Event-log confs for the NEXT SparkContext of this JVM.

        ``get_spark`` builds with ``getOrCreate``, which applies no static conf
        to a live context, so the confs go in as JVM system properties, which
        every new ``SparkConf`` loads.
        """
        props = self.spark._jvm.java.lang.System
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.dir", "file://" + log_dir)
        props.setProperty("spark.eventLog.compress", "false")
        props.setProperty("spark.eventLog.rolling.enabled", "false")

    def stop(self) -> str | None:
        """Stop the session; return its application id."""
        if self.spark is None:
            return None
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app_id


def _jvm_pid() -> int:
    """Pid of the JVM PySpark launched (spark-submit execs into it)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM this process launched and every process under it.

    PySpark's gateway JVM exits when its stdin closes; the Python daemon it
    spawned exits when the JVM does. Whatever is still alive after
    ``timeout_s`` is killed, and the function returns only once all are gone.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    tree = process_tree(_jvm_pid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
    SparkContext._gateway = SparkContext._jvm = None


def _median(values) -> float:
    return statistics.median(list(values))


def _pass_sum(p: dict, key: str) -> float:
    return sum(q[key] for q in p["queries"].values())


def end_to_end(setup: dict, cold: dict, steady: list[dict]) -> dict:
    return {
        "setup_s": setup["setup_s"],
        "first_pass_s": cold["wall_s"],
        "wall_s": _median(p["wall_s"] for p in steady),
    }


def per_layer(setup: dict, steady: list[dict]) -> dict:
    out = {k: setup[k] for k in ("session.get_spark_s", "session.warmup_s", "tables.scan_s")}
    for key, metric in (
        ("build_s", "queries.build_s"),
        ("action_s", "queries.action_s"),
        ("jobs", "queries.jobs"),
        ("stages", "queries.stages"),
        ("tasks", "queries.tasks"),
    ):
        out[metric] = _median(_pass_sum(p, key) for p in steady)
    out["queries.slowest_query_s"] = max(
        _median(p["queries"][q]["total_s"] for p in steady) for q in steady[0]["queries"]
    )
    return out


def traced_layers(log_path: str, steady: list[dict], cores: int) -> dict:
    """Event-log metrics per steady pass, folded over the pass's queries."""
    import eventlog

    groups = eventlog.fold(log_path)
    rows = []
    for p in steady:
        recs = [groups.get(f"{p['tag']}:{q}", eventlog.GroupRecord()) for q in p["queries"]]

        def total(attr: str) -> float:
            return sum(getattr(r, attr) for r in recs)

        jvm_run, py_run = total("jvm_run_s"), total("python_run_s")
        rows.append(
            {
                "tables.input_mb": total("input_mb"),
                "queries.single_task_stages": total("single_task_stages"),
                "queries.core_busy_ratio": (jvm_run + py_run) / (p["wall_s"] * cores),
                "queries.failed_tasks": total("failed_tasks"),
                "operators.task_run_s": jvm_run,
                "operators.task_cpu_s": total("jvm_cpu_s"),
                "operators.gc_s": total("jvm_gc_s"),
                "operators.cpu_ratio": total("jvm_cpu_s") / jvm_run if jvm_run else 0.0,
                "operators.shuffle_write_mb": total("shuffle_write_mb"),
                "operators.shuffle_read_mb": total("shuffle_read_mb"),
                "operators.spill_mb": total("spill_mb"),
                "operators.peak_exec_mem_mb": max(r.peak_exec_mem_mb for r in recs),
                "functions.python_stage_run_s": py_run,
                "functions.python_stage_share": (
                    py_run / (jvm_run + py_run) if jvm_run + py_run else 0.0
                ),
            }
        )
    return {k: _median(r[k] for r in rows) for k in rows[0]}


def _declared(mode: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[mode]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import data_engineering_assignment_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    declared = _declared("per_layer" if args.trace else "end_to_end")

    cores = _cores()
    _prepare_env(cores)
    data, small = _dataset(SF), _dataset(0.001)
    order = list(workload.queries)
    random.Random(args.seed).shuffle(order)
    load_start, steal_start = os.getloadavg(), _steal_s()

    bench = Bench(workload, order, data, small)
    try:
        setup = bench.setup()
        _log(f"set-up: {setup['setup_s']:.2f}s")
        with PeakRss(_jvm_pid()) as rss:
            cold = bench.run_pass("run:cold")
            checks = bench.check()
            steady = bench.steady("run", args.seconds)
        passes = [cold] + steady
        _log("passes (cold, steady...): " + ", ".join(f"{p['wall_s']:.2f}s" for p in passes))
        _log(f"oracle checks: {sum(c['ok'] for c in checks.values())}/{len(checks)} ok")
        metrics = end_to_end(setup, cold, steady)
        if args.trace:
            metrics.update(per_layer(setup, steady), peak_rss_mb=rss.peak_mb)
            log_dir = os.path.join(WORK, "eventlog")
            bench.enable_event_log(log_dir)
            bench.setup()
            bench.run_pass("trace:warm")
            traced = bench.steady("trace", args.seconds)
            _log("traced steady " + ", ".join(f"{p['wall_s']:.2f}s" for p in traced))
            log_path = os.path.join(log_dir, bench.stop())
            metrics.update(traced_layers(log_path, traced, cores))
            metrics["trace.wall_s"] = _median(p["wall_s"] for p in traced)
            metrics["trace.overhead_s"] = metrics["trace.wall_s"] - metrics["wall_s"]
            os.remove(log_path)
    finally:
        bench.stop()
        shutdown_jvm()

    missing = sorted(set(declared) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    record = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg(),
        "cpu_steal_s": _steal_s() - steal_start,
        "sf": SF,
        "order": order,
        "setup": setup,
        "peak_rss_mb": rss.peak_mb,
        "peak_rss_kb_by_pid": rss.hwm_kb,
        "steady_passes": len(steady),
        "error_rate": bench.failed / bench.attempted,
        "metrics": metrics,
        "checks": checks,
        "passes": passes,
        "errors": bench.errors,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "runs", f"{workload.name}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "cores", "load_avg_start", "load_avg_end", "cpu_steal_s", "steady_passes", "error_rate")}))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
