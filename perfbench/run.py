"""Run one benchmark workload for one seed and print its metrics.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

One process and one caller; the warm-up and the timed op run one
after the other (a closed loop). The run
  1. fits Spark to the host (SPARK_GRAFT_CPUS = usable cpus, a JVM
     heap that fits in memory) and probes deliverable CPU;
  2. makes or reuses the seeded inputs;
  3. starts Spark once (the JVM launch, recorded as launch_s), then
     restarts the session SETUP_REPS times (session start, input open)
     and reports the median restart as setup_s;
  4. runs the workload's untimed warm-up, then exactly one timed op
     after an untimed state restore and a full garbage collection,
     followed by its output check; peak_mem_mb is the memory Spark
     manages for that op (see SparkMemory; the process tree's peak RSS
     during it is the per-layer metric process.peak_rss_mb);
  5. with --trace 1, records spans around the benchmark's calls in the
     timed op and a Spark event log, folds the task metrics onto the
     op's spans and prints the per-layer metrics instead.

--seconds is accepted for the command-line contract; a run always
measures one op, so every commit is measured on the same work.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The op and, where the workload checks it, the warm-up each
count as attempted; one whose output check fails counts as failed. An op that raises ends the run with an
error and no result line.
Everything the run writes stays under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import REPO, WORK  # noqa: E402
from perfbench.workloads import cache_mb  # noqa: E402

SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def host_fit() -> dict:
    """SPARK_GRAFT_CPUS and JVM heap from this host, set before Spark
    starts; every path Spark or Python writes to is under WORK."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # the inputs are a few MB and the host is shared: 1 GB of heap
    heap_gb = 1
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    return {"cpus": cpus, "mem_gb": round(mem_gb, 1),
            "heap_gb": heap_gb, "shuffle_partitions": 2 * cpus,
            "loadavg": os.getloadavg()}


def cpu_probe(cpus: int, seconds: float = 0.5) -> dict:
    """tools/probe_host.py's burn loop on every cpu: work units per
    thread-second, comparable between runs on one host."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from probe_host import _burn_cpu, run

    work = run(_burn_cpu, cpus, seconds)
    return {"threads": cpus, "seconds": seconds,
            "work_per_thread_s": work / cpus / seconds}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def reset_peak_rss() -> None:
    """Reset every process's peak RSS (VmHWM) in this tree to its
    current RSS."""
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process tree, since
    the last reset_peak_rss() or since the process started."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class SparkMemory:
    """Memory Spark manages for one op, from its own accounting: the peak
    size of the cached RDD blocks, polled every ``interval`` seconds while
    the op runs, plus the execution memory (joins, aggregations, sorts)
    of the op's hungriest stage, the sum of its tasks' peaks. In MB.

    Both parts repeat from run to run. The process RSS does not (it
    follows how far the collector grew the heap), nor does Spark's live
    memory use (broadcast blocks leave it when the collector runs, and
    execution memory follows how tasks happened to overlap)."""

    def __init__(self, spark, interval: float = 0.05):
        import threading

        self.spark = spark
        self.sc = spark.sparkContext
        self.interval = interval
        self.storage = 0.0
        self.execution = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.storage = max(self.storage, cache_mb(self.spark))
            self._stop.wait(self.interval)

    def _stages(self) -> list:
        """Every stage in Spark's status store, once its events are in."""
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        jsc.listenerBus().waitUntilEmpty()
        seq = jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def __enter__(self):
        self.first_stage = 1 + max((s.stageId() for s in self._stages()),
                                   default=-1)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.execution = max((s.peakExecutionMemory() for s in self._stages()
                              if s.stageId() >= self.first_stage),
                             default=0) / 1e6

    @property
    def peak_mb(self) -> float:
        return self.storage + self.execution


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------

def start_spark(host: dict, event_log: str | None):
    from webalizer_spark import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_log,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench",
                     shuffle_partitions=host["shuffle_partitions"],
                     extra_confs=confs)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def reap() -> None:
    """Terminate and wait for anything this process started that is
    still alive (Python workers of a JVM that died first)."""
    import signal

    left = [p for p in descendants(os.getpid()) if p != os.getpid()]
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while left and time.time() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        time.sleep(0.1)
    for p in left:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

def _count(errs: list[str], stats: dict) -> None:
    stats["attempted"] += 1
    if errs:
        stats["failed"] += 1
        for e in errs[:20]:
            log(f"check failed: {e}")


def settle(spark) -> None:
    """Drop cached data and collect garbage in the driver and the JVM,
    so the op starts from the heap it needs rather than the one the
    warm-up grew (G1 gives free heap back to the OS after a full GC)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(workload: str, seed: int, traced: bool) -> dict:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    t_run = time.time()
    host = host_fit()
    host["cpu_probe"] = cpu_probe(host["cpus"])
    log("host " + json.dumps(host))
    w = WORKLOADS[workload](seed, WORK)

    t0 = time.time()
    log("inputs " + json.dumps(w.prepare()) +
        f" prepared in {time.time() - t0:.1f}s")
    run_id = f"{workload}-{seed}-{int(t_run)}"
    event_log = os.path.join(WORK, "eventlog", run_id) if traced else None

    stats = {"attempted": 0, "failed": 0}
    spark = None
    setup = []
    try:
        t0 = time.time()
        spark = start_spark(host, event_log)
        w.open(spark)
        launch = time.time() - t0
        for _ in range(SETUP_REPS):
            t0 = time.time()
            spark.stop()
            spark = start_spark(host, event_log)
            w.open(spark)
            setup.append(time.time() - t0)
        log(f"launch_s {launch:.3f}, setup_s samples "
            f"{[round(s, 3) for s in setup]}")

        t0 = time.time()
        errs = w.warmup(spark)
        log(f"warm-up {time.time() - t0:.2f}s")
        if errs is not None:
            _count(errs, stats)

        w.restore()
        settle(spark)
        reset_peak_rss()
        rss_start = peak_rss_mb()
        tracer = trace.Tracer(run_id, sc=spark.sparkContext, enabled=traced)
        with SparkMemory(spark) as mem:
            t0 = time.time()
            res = w.op(spark, tracer)
            sec = time.time() - t0
        rss = peak_rss_mb()
        t0 = time.time()
        errs, written = w.check(res)
        log(f"op {sec:.2f}s, Spark memory {mem.storage:.1f} MB cached + "
            f"{mem.execution:.1f} MB execution, "
            f"process tree rss {rss_start:.0f} MB at start, "
            f"peak {rss:.0f} MB, "
            f"check {time.time() - t0:.2f}s")
        _count(errs, stats)

        metrics = {
            "run_s": sec,
            "turns_per_s": w.input_rows / sec,
            "sink_mb": written,
            "setup_s": statistics.median(setup),
            "peak_mem_mb": mem.peak_mb,
        }
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_spark(spark)
        reap()
    if traced:
        # the event log is complete once the session has stopped
        tracer.write(os.path.join(event_log, "spans.json"))
        metrics = fold_trace(w, tracer, res, app_id, event_log)
        metrics["process.peak_rss_mb"] = rss
    host["loadavg_end"] = os.getloadavg()
    out = {"workload": workload, "seed": seed, "traced": traced,
           "stats": stats, "metrics": metrics, "host": host,
           "launch_s": launch, "setup_samples": setup,
           "fingerprints": w.last_fps}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return out


def fold_trace(w, tracer, res, app_id: str, event_log: str) -> dict:
    """Per-layer metrics of the traced op, from its spans and the event
    log."""
    from perfbench import trace

    spans = tracer.spans
    errs = trace.check_nesting(spans)
    if errs:
        raise RuntimeError("spans do not nest: " + "; ".join(errs))
    jobs, sql = trace.read_event_log(event_log, app_id)
    by_span = trace.assign_jobs(spans, jobs)
    root = next(i for i, s in enumerate(spans) if s.parent is None)
    in_op = [j for i, js in by_span.items() for j in js]
    selft = trace.self_times(spans)
    wall = spans[root].end - spans[root].start
    out = {f"spark.{k}": v for k, v in trace.fold(in_op).items()
           if k != "run_s"}
    out["trace.wall_s"] = wall
    out["trace.self_share"] = (wall - selft[root]) / wall
    out.update(w.layers(spans, by_span, sql, res))
    return out


def select_metrics(wanted: list[dict], measured: dict,
                   layers: tuple[str, ...] | None) -> dict:
    """The result line's metrics: every wanted metric, by name with its
    unit. A metric the run should have measured and did not is an error.
    With ``layers`` (a traced run) a per-layer metric of a layer the
    workload never calls reads 0: the layer did no work in the op."""
    out, missing = {}, []
    for m in wanted:
        name = m["name"]
        if name in measured:
            value = float(measured[name])
        elif layers is not None and not name.startswith(layers):
            value = 0.0
        else:
            missing.append(name)
            continue
        out[name] = {"value": value, "unit": m["unit"]}
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(REPO, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [wl["name"] for wl in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload}; one of {names}")

    from perfbench.workloads import WORKLOADS

    out = run(args.workload, args.seed, bool(args.trace))
    log("all metrics " + json.dumps(out["metrics"], sort_keys=True))
    metrics = select_metrics(
        spec["per_layer"] if args.trace else spec["end_to_end"],
        out["metrics"], WORKLOADS[args.workload].LAYERS if args.trace
        else None)
    stats = out["stats"]
    print(json.dumps({"correct": stats["failed"] == 0,
                      "attempted": stats["attempted"],
                      "failed": stats["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
