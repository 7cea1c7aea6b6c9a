"""Run one benchmark workload against bunsen_spark and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workload's inputs are generated from
the seed and set up five times (``setup_s`` is the median wall time).
One client then runs operations in a closed loop (the next starts when
the previous returns) on ``local[<cores>]``: a first operation that
passes through every layer of the workload, three repeats of the
workload's query to warm the JVM, all untimed, then timed repeats for
``--seconds``. ``op_cpu_s`` is the median CPU time of a timed operation
over the whole process tree (Python driver, JVM, Python workers).
Every operation's output is checked against the generator's expected
answers. Human-readable lines come first; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of the
first operation with ``--trace 1``. Scratch files live under
``.perfbench/`` and are removed at exit, except the traced run's span
dump.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 5
#: reference_s() on a 4-core Xeon VM while its host was quiet. The same
#: VM ran both the reference and the program up to 1.7x slower, in CPU
#: time too, while its host was busy, for minutes at a time; times are
#: reported scaled by REFERENCE_S / (the run's median reference_s()).
REFERENCE_S = 0.04
#: untimed operations before the loop: the first passes through every
#: layer of the workload, the rest warm the JVM on the repeated query
WARMUP_OPS = 4

E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s"}
LAYER_UNITS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "failed_tasks": "count",
    "idle_share": "share",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def jvm_hwm_mb(pid: int) -> float:
    """High-water resident set of a process, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live process
    under it (the JVM and its Python workers), including the children
    each has already reaped."""
    procs = {}
    for d in Path("/proc").iterdir():
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split() if d.name.isdigit() else None
        except (FileNotFoundError, ProcessLookupError):  # exited during the walk
            continue
        if fields:
            procs[int(d.name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += [c for c, (ppid, _) in procs.items() if ppid == pid]
    return ticks / os.sysconf("SC_CLK_TCK")


def reference_s() -> float:
    """CPU seconds of a fixed piece of work: a numpy sort of 1M doubles
    and a 200k-entry dict build."""
    x = np.random.default_rng(0).random(1 << 20)
    t0 = time.process_time()
    np.sort(x)
    {i: i * i for i in range(200_000)}
    return time.process_time() - t0


def start_spark(work: Path, cores: int):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # Python workers unpickle functions from bunsen_spark by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from bunsen_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.local.dir": str(work / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def measure(wl, seconds: float, tracer) -> tuple[float, int, list[float], list[float], list[float], list, int]:
    """``WARMUP_OPS`` untimed operations, then the closed loop. Returns
    the first operation's wall seconds and the index of the first span
    after it; the timed wall and CPU seconds and a ``reference_s()``
    taken before each timed operation; every operation's result; and
    the index of the first span recorded inside the loop."""
    from workloads import Result

    lat, cpu, ref, results = [], [], [], []
    i = 0
    while True:
        if i == WARMUP_OPS:
            loop_start = len(tracer.spans)
            end = time.perf_counter() + seconds
        if i >= WARMUP_OPS:
            ref.append(reference_s())
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            res = wl.op(i)
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res = Result(False, f"{type(e).__name__}: {e}")
        if i >= WARMUP_OPS:
            lat.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s(os.getpid()) - c0)
        elif i == 0:
            first_s, after_first = time.perf_counter() - t0, len(tracer.spans)
        results.append(res)
        if not res.ok:
            print(f"FAILED op {i}: {res.detail}", file=sys.stderr)
        i += 1
        if i > WARMUP_OPS and time.perf_counter() >= end:
            return first_s, after_first, lat, cpu, ref, results, loop_start


def span_seconds(spans, name: str) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name]


def workload_lines(wl, first, loop, lat) -> list[tuple[str, float, str, int]]:
    """The workload's own end-to-end metrics, from the first operation's
    spans and the timed loop's: (name, value, unit, samples)."""
    from spans import median, percentile, tail_percentile

    n = len(lat)
    out = []
    tail = tail_percentile(n)
    if tail and tail > 50:
        out.append((f"op_p{tail:g}_ms", 1000 * percentile(lat, tail), "ms", n))
    if wl.name == "cohort_query":
        closure = [s.end - s.start for s in first if s.parent is None and s.name == "operators.hierarchies"]
        out += [
            ("queries_per_s", n / sum(lat), "queries/s", n),
            ("ingest_resources_per_s", sum(wl.want.values()) / sum(span_seconds(first, "sources.bundles")), "resources/s", 1),
            ("ingest_xml_resources_per_s", sum(wl.want_xml.values()) / sum(span_seconds(first, "sources.xml")), "resources/s", 1),
            ("warehouse_bytes_per_input_byte", wl.warehouse_bytes / wl.data.expected["input_bytes"], "ratio", 1),
            ("terminology_build_s", sum(closure), "s", 1),
            ("valueset_push_s", wl.push_s, "s", 1),
        ]
    elif wl.name == "corpus_curation":
        dedup = span_seconds(first, "operators.dedup") + span_seconds(first, "operators.setjoin")
        out += [
            ("searches_per_s", n / sum(lat), "searches/s", n),
            ("dedup_pass_s", sum(dedup), "s", 1),
            ("topk_search_s", median(span_seconds(loop, "operators.similarity")), "s", n),
            ("ivf_recall_at_10", wl.recall, "share", 1),
        ]
    return out


def layer_metrics(wl, tracer, first, first_s: float, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of the first operation, which passes through
    every layer the workload enters, plus the shape ratios."""
    from spans import LAYERS, layer_table, median

    table = layer_table(first, cores)
    metrics = {f"{layer}.{key}": (table[layer][key], unit) for layer in LAYERS for key, unit in LAYER_UNITS.items()}
    closures = [s for s in first if "count_actions" in s.counters]
    rounds = sum(s.counters["count_actions"] - 1 for s in closures) / len(closures) if closures else 0
    metrics["operators.hierarchies.rounds"] = (rounds, "count")
    compile_s = span_seconds(tracer.spans, "schema")
    metrics["schema.compile_s"] = (median(compile_s) if compile_s else 0.0, "s")
    probes = wl.probe()
    for name in ("operators.dedup.verified_per_candidate", "operators.setjoin.verified_per_candidate"):
        metrics[name] = (probes.get(name, 0.0), "share")
    overhead = sum(s.overhead_s for s in first)
    metrics["trace.overhead_share"] = (overhead / first_s, "share")
    return metrics, table


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bunsen_spark").is_dir() or not (ROOT / "tools").is_dir():
        print(f"perfbench: no bunsen_spark/ and tools/ next to {HERE.name}/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads
    from spans import SparkCounters, Tracer, median

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = ROOT / ".perfbench"
    work = base / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        spark = start_spark(work, cores)
        run_id = f"{args.workload}-{args.seed}"
        tracer = Tracer(SparkCounters(spark) if args.trace else None, run_id)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.generate()
        setup_s, setup_ref = [], []
        for rep in range(SETUP_REPS):
            setup_ref.append(reference_s())
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t0)
        first_start = len(tracer.spans)
        first_s, after_first, lat, cpu, ref, results, loop_start = measure(wl, args.seconds, tracer)
        first, loop = tracer.spans[first_start:after_first], tracer.spans[loop_start:]
        loop_s = sum(lat)
        n, attempted = len(lat), len(results)
        failed = sum(not r.ok for r in results)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = jvm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        machine = median(setup_ref + ref) / REFERENCE_S
        e2e = {"setup_s": median(setup_s) / machine, "op_cpu_s": median(cpu) / machine}
        print(f"workload {args.workload} seed {args.seed}: {n} operations in {loop_s:.2f} s after {WARMUP_OPS} untimed, "
              f"closed loop, 1 client, local[{cores}], tracing {'on' if args.trace else 'off'}")
        for name, value in e2e.items():
            print(f"  {name:32s} {value:14.4f} {E2E_UNITS[name]:16s} n={SETUP_REPS if name == 'setup_s' else n}")
        lines = [
            ("machine_slowdown", machine, "x", SETUP_REPS + n),
            ("setup_wall_s", median(setup_s), "s", SETUP_REPS),
            ("op_cpu_unscaled_s", median(cpu), "s", n),
            ("op_p50_ms", 1000 * median(lat), "ms", n),
            ("failed_op_share", failed / attempted, "failed/attempted", attempted),
            ("peak_rss_mb", rss, "MB", 1),
        ]
        if not failed:  # a failed operation may not have produced what they read
            lines += workload_lines(wl, first, loop, lat)
        for name, value, unit, samples in lines:
            print(f"  {name:32s} {value:14.4f} {unit:16s} n={samples}")
        if args.trace:
            metrics, table = layer_metrics(wl, tracer, first, first_s, cores)
            total = sum(row["task_s"] for row in table.values()) or 1.0
            top = max(table, key=lambda k: table[k]["task_s"])
            print(f"  dominant layer by task_s: {top} ({table[top]['task_s'] / total:.0%} of {total:.2f} s)")
            print(f"  per-layer metrics are the first operation's ({first_s:.2f} s); tracing overhead: "
                  f"{sum(s.overhead_s for s in first):.3f} s of it")
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
            with open(base / f"trace-{run_id}.json", "w") as fh:
                json.dump({"spans": [vars(s) for s in tracer.spans], "layers": table, "e2e": e2e, "dominant_layer": top}, fh)
        else:
            out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any(base.iterdir()):
            base.rmdir()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
