"""Repository benchmark: one seeded entity-resolution workload per run.

    python3 perfbench/run.py --workload er_resolve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run starts its own Spark
session on ``local[<cores>]``, writes the seeded inputs to parquet under
``.perfbench_work/``, runs one untimed warm-up repetition and then timed
repetitions back to back (closed loop, one client) until ``--seconds``
have passed. It checks every output and prints a per-metric table
followed by one JSON line:

* ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json``.
* ``--trace 1``: the per-layer metrics. After the timed repetitions the
  entry point is re-composed layer by layer (``perfbench/layers.py``),
  each layer under its own Spark job group, and Spark's event log is
  folded per job group (``perfbench/eventlog.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the driver heap is fixed (-Xms = -Xmx), as deployments pin it, so
# peak_rss_mb does not follow G1's run-to-run heap-sizing decisions
DRIVER_MEM = "3g"
# timed repetitions per run, at least; the run goes on until --seconds
# have passed, and job_s is their median
MIN_REPS = 2
REP_TIMEOUT_S = 90.0
# a run is incorrect if its quality drops below these floors
QUALITY_FLOOR = {"er_resolve": 0.95, "cleanse_link": 0.9}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    """Spark task slots: half the CPUs. Each slot also drives a Python
    worker, and the driver thread, JIT and GC need CPUs of their own; a
    slot per CPU oversubscribes them. On a 4-CPU VM two slots ran both
    jobs no slower than four."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let workers import the engine whatever their cwd."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher included: temp files in
    # ``work`` and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    from triple_accel_spark.session import get_spark

    n = cores()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


def effective_conf(spark) -> dict:
    keys = (
        "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch", "spark.serializer",
        "spark.eventLog.enabled",
    )
    conf = {k: spark.conf.get(k, None) for k in keys}
    conf["defaultParallelism"] = spark.sparkContext.defaultParallelism
    conf["SPARK_LOCAL_DIRS"] = os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT)
    return conf


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _start_time(pid: int) -> str | None:
    """The process's start time (``/proc/<pid>/stat`` field 22), or None
    once it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and every process under it
    (the Python daemon and its workers), and wait until each has ended.

    ``SparkSession.stop`` leaves the gateway JVM running until this
    process exits, and it only ends after that, on its own; a run must
    not leave it (or a worker) behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = {pid: _start_time(pid) for pid in _proc_tree(os.getpid())[1:]}
    try:
        if spark is not None:
            spark.stop()
    except Exception as exc:
        log(f"spark.stop failed: {exc!r}")
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.perf_counter() + 30
    for pid, started in procs.items():
        while started is not None and _start_time(pid) == started:
            if time.perf_counter() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.05)


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak resident memory (``VmHWM``) of the driver JVM and every
    process under it (the Python daemon and its workers)."""
    kb = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def run_reps(spark, wl, work: str, seconds: float, min_reps: int):
    """Timed repetitions until ``seconds`` have passed (at least
    ``min_reps``). The first repetition's output is scored for quality
    and every repetition's digest must equal the first one's. Returns
    ``(times, attempted, failed, first_digest, quality)``."""
    times, failed, first, quality = [], 0, None, 0.0
    t_begin = time.perf_counter()
    rep = 0
    while rep < min_reps or time.perf_counter() - t_begin < seconds:
        rep_dir = os.path.join(work, f"rep{rep:03d}")
        os.makedirs(rep_dir)
        try:
            t0 = time.perf_counter()
            job = wl.run(spark, rep_dir)
            dt = time.perf_counter() - t0
        except Exception as exc:  # a failed repetition is counted, not fatal
            print(f"repetition {rep} failed: {exc!r}", file=sys.stderr)
            failed += 1
            job = None
        if job is not None:
            times.append(dt)
            if first is None:
                first = job.digest
                # outside the timed region; released before the next
                # repetition so no repetition reads another's caches
                quality = wl.quality(spark, job)
            elif job.digest != first or dt > REP_TIMEOUT_S:
                failed += 1
            job.release()
        shutil.rmtree(rep_dir, ignore_errors=True)
        rep += 1
    return times, rep, failed, first, quality


def measure(args, work: str):
    """Set up, run the timed repetitions (and the traced composition with
    ``--trace 1``); returns ``(ok, attempted, failed, times, metrics, conf)``."""
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](SIZES[args.workload])
    spark = None
    try:
        spark = start_session(work, bool(args.trace))
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        conf = effective_conf(spark)
        log("session started")
        os.makedirs(os.path.join(work, "input"))
        wl.prepare(spark, os.path.join(work, "input"), args.seed)
        log(f"inputs written: {wl.records} records")
        # the untimed warm-up runs the timed job itself: a first run of
        # each plan compiles it and still runs interpreted JVM code
        warm_dir = os.path.join(work, "warmup")
        os.makedirs(warm_dir)
        wl.run(spark, warm_dir).release()
        shutil.rmtree(warm_dir, ignore_errors=True)
        setup_s = time.perf_counter() - T_START
        log("warm-up done")

        # a traced run needs one repetition: its digest for the
        # decomposition guard and its time for the tracing overhead
        times, attempted, failed, first, quality = run_reps(
            spark, wl, work, *((0.0, 1) if args.trace
                               else (args.seconds, MIN_REPS))
        )
        if first is None:
            raise SystemExit(f"all {attempted} repetitions failed")
        rss = peak_rss_mb(jvm_pid)
        log(f"{attempted} timed repetitions done")
        ok = failed == 0 and quality >= QUALITY_FLOOR[args.workload]
        job_s = statistics.median(times)
        if args.trace:
            from perfbench.layers import traced_run

            layers = traced_run(spark, wl, work, first, job_s)
            ok = ok and layers.pop("_guard_ok")
            log("traced composition done")
    finally:
        stop_spark(spark)

    if args.trace:
        from perfbench.layers import finish_layers

        metrics = finish_layers(layers, os.path.join(work, "eventlog"))
        if metrics["scoring.python_s"]["value"] <= 0:
            # the event log no longer carries the Python-UDF accumulables
            print("scoring layer shows no Python-worker time in the event log")
            ok = False
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": job_s, "unit": "s"},
            "records_per_s": {"value": wl.records / job_s, "unit": "1/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "quality_f1": {"value": quality, "unit": "ratio"},
            "success_rate": {"value": 1.0 - failed / attempted, "unit": "ratio"},
        }
    conf["records"] = wl.records
    return ok, attempted, failed, times, metrics, conf


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
    )
    prepare_env(work)
    try:
        ok, attempted, failed, times, metrics, conf = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("conf " + json.dumps(conf, sort_keys=True))
    print(f"workload {args.workload} seed {args.seed} reps {attempted} "
          f"failed {failed} error_rate {failed / attempted:.4f} "
          f"rep_s {[round(t, 3) for t in times]}")
    for name, m in metrics.items():
        print(f"  {name:36s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({"correct": bool(ok), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
