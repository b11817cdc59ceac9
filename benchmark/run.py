"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 benchmark/run.py --workload serve_catalog --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. A single client thread drives
Spark on local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may
use) in a closed loop, through the program's public entry points only:
``session.get_spark``, ``plans.queries.QUERIES[name].builder`` with a
noop-sink write, and ``pipeline.run_marvel_batch``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run that prints the per-layer metrics: after warm-up it interleaves
untraced and traced passes, folds the traced passes' spans and Spark
event log into per-op figures, and compares the two windows' op rates.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class TreeRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled on a background thread.

    Each process counts its proportional set size: Spark forks its Python
    workers from one daemon, and plain RSS would count every page they
    share once per worker."""

    PERIOD_S = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def descendants() -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh
                                  if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue  # the process ended while we looked
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.PERIOD_S)

    def start(self) -> "TreeRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        return self.peak


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.DECKS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Point every file Spark and Python write at ``work``, inside the
    checkout, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the program's 8g default lets the JVM heap grow past what a shared
    # 4-core box can spare; 2g holds every workload's working set
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the program by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # for the JVM that assembles the launch command and for Spark's own
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {opts}".strip()
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(spark, rss: TreeRss) -> None:
    """Stop Spark, end its JVM and wait for every process it started."""
    from pyspark import SparkContext

    procs = [p for p in rss.descendants() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = gateway.proc
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if _alive(p)]
        time.sleep(0.1)
    for p in procs:
        os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def start_oracles(wl, work: str) -> subprocess.Popen:
    """The collected queries' check against their DuckDB oracles, in a
    child process."""
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "oracle_child.py"), wl.sf_dir, wl.results_dir,
         *sorted(wl.collected)],
        cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def query_gate(wl, child: subprocess.Popen) -> list[str]:
    """Each distinct deck query's cold-pass result against its oracle;
    returns the queries that failed or differ."""
    try:
        out, err = child.communicate(timeout=150)
    except subprocess.TimeoutExpired:
        child.kill()
        out, err = child.communicate()
    queries = set(wl.deck.weights) - {workloads.ETL_OP}
    if child.returncode != 0:
        print(err[-4000:], file=sys.stderr)
        return sorted(queries)
    checked = json.loads(out.strip().splitlines()[-1])
    # a query whose cold-pass collect failed has no result to check
    bad = queries - set(checked)
    for name, d in checked.items():
        # rows-only queries (no oracle) must at least return rows
        if d["spark"]["rows"] == 0 or (d["oracle"] is not None and d["spark"] != d["oracle"]):
            print(f"gate: {name}: spark {d['spark']} oracle {d['oracle']}", file=sys.stderr)
            bad.add(name)
    return sorted(bad)


def e2e_metrics(timing, setup_s: float, peak_rss: int, space_amp: float) -> dict:
    import stats

    n = len(timing.samples)
    pct, tail_s = stats.tail(timing.samples)
    log(f"{n} latency samples; latency_tail_ms is p{pct:.1f}")
    values = {
        "ops_per_s": (n / timing.wall_s, "1/s"),
        "latency_p50_ms": (statistics.median(timing.samples) * 1000, "ms"),
        "latency_tail_ms": (tail_s * 1000, "ms"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "space_amp": (space_amp, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "comix_etl_spark")):
        # checked before anything starts: without the program there is
        # nothing to measure, and no result may be printed
        print(f"no comix_etl_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    rss = TreeRss()  # started once the inputs are generated
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work, rss)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, rss: TreeRss) -> int:
    import datagen

    prepare_env(work, bool(args.trace))
    deck = workloads.DECKS[args.workload]
    gen_start = time.perf_counter()
    sf_dir = os.path.join(work, "tables")
    datagen.write_tables(datagen.make_tables(args.seed, deck.sf), sf_dir)
    input_bytes = workloads.tree_bytes(sf_dir)
    etl = workloads.EtlWorkload(None, work, args.seed) if workloads.ETL_OP in deck.weights else None
    results_dir = os.path.join(work, "results")
    os.makedirs(results_dir)
    gen_s = time.perf_counter() - gen_start
    rss.start()

    from comix_etl_spark.session import get_spark

    spark = get_spark(f"bench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    if etl:
        etl.spark = spark
    wl = workloads.Workload(spark, deck, sf_dir, args.seed, results_dir, etl)
    child = None
    problems = []
    try:
        wl.cold_pass()
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        log(f"set up in {setup_s:.2f} s (+{gen_s:.2f} s generating inputs)")
        wl.warm()
        log("warmed up")
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            windows = wl.timed_ab(args.seconds, deck.min_ops, tracer)
        else:
            windows = (wl.timed(args.seconds, deck.min_ops),)
        log(f"timed {windows[-1].attempted} ops in {windows[-1].wall_s:.2f} s")
        peak = rss.stop()
        child = start_oracles(wl, work)  # runs while Spark shuts down
        if etl:
            for p in etl.check():
                print(f"gate: {workloads.ETL_OP}: {p}", file=sys.stderr)
                problems = [workloads.ETL_OP]
    except BaseException:
        if child is not None:
            child.kill()
            child.wait()
        raise
    finally:
        stop_spark(spark, rss)
    if child is not None:
        problems += query_gate(wl, child)
    log(f"checked: {problems or 'correct'}")
    if etl:
        space_amp = etl.space_amp()
    else:
        # a read-only deck stores nothing beyond its inputs unless the
        # program starts persisting state next to them or in its warehouse
        space_amp = (workloads.tree_bytes(sf_dir) + workloads.tree_bytes(
            os.environ["SPARK_GRAFT_WAREHOUSE"])) / input_bytes

    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed(problems) for w in windows)
    if args.trace:
        untraced, traced = (len(w.samples) / w.wall_s for w in windows)
        folded = tracing.fold(tracer, os.path.join(work, "eventlog"))
        metrics = {k: {"value": v, "unit": tracing.LAYER_METRICS[k]} for k, v in folded.items()}
        metrics["trace.untraced_ops_per_s"] = {"value": untraced, "unit": "1/s"}
        metrics["trace.traced_ops_per_s"] = {"value": traced, "unit": "1/s"}
        metrics["trace.overhead_pct"] = {"value": 100 * (untraced / traced - 1), "unit": "%"}
    else:
        metrics = e2e_metrics(windows[0], setup_s, peak, space_amp)
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
