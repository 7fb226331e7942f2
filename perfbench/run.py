"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``; passes of its fixed work repeat until ``--seconds``
have been measured (at least one pass); the outputs are then checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first makes
one untraced run of the same workload and seed in a child process, then
runs the workload with job groups, Spark's event log and streaming
progress, and prints the per-layer metrics instead, plus the traced
run's end-to-end numbers beside the untraced ones and their difference,
the tracing overhead.

Every metric is printed as ``name value unit``; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes stays under
``.perfbench_work/`` in the checkout; the records of finished runs are
kept in ``.perfbench_work/records/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RECORDS = os.path.join(WORK_ROOT, "records")

# Input generation is repeated this many times and its median is
# charged to setup_s; the JVM-backed session can only start once per
# process, so it is charged once.
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"

# The bounded end-to-end metrics. pass_cpu_s is the CPU time of the
# Python driver, its JVM and their workers over a pass: on a virtual
# machine whose hypervisor takes 0-20% of the CPU time, wall times of one
# seed spread by 20-35% from run to run, CPU time by under 10%.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
# Wall times, printed and recorded by every run, but too dependent on
# the host's load to carry a bound.
WALL = {
    "pass_s": "s",
    "op_p50_s": "s",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def source_hash() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "bda_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    # a checkout that is not itself a git repository records the source
    # hash alone; git must not look for a repository above it
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unavailable"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return "unavailable"
    return out.stdout.strip() if out.returncode == 0 else "unavailable"


def start_session(work: str, traced: bool):
    from bda_spark.session import get_spark

    nproc = cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and its Python workers inherit these: scratch stays in the work dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        # A fixed-size, pre-touched heap: the JVM neither grows its heap
        # nor faults its pages in during the timed section.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                                         "-XX:+AlwaysPreTouch",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_confs=confs)
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism > nproc:
        stop_session(spark)
        raise SystemExit(f"defaultParallelism {parallelism} exceeds the {nproc} usable cores")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark, seed: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "nproc": cpu_count(),
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "source_sha256_16": source_hash(),
        "seed": seed,
    }


def run_workload(name: str, seed: int, seconds: float, traced: bool, origin: float) -> dict:
    """One run: session, seeded setup, timed closed loop, verification.
    ``origin`` is when this run's process work began; setup_s counts
    from it. Returns the record."""
    from tracing import (EventLog, RssSampler, Tracer, cpu_seconds, executor_metrics, median,
                         steal_seconds)
    from workloads import WORKLOADS

    work = os.path.join(WORK_ROOT, f"{name}-seed{seed}-trace{int(traced)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark = start_session(work, traced)
        session_s = time.perf_counter() - t0
        try:
            env = environment(spark, seed)
            tracer = Tracer(name, spark.sparkContext, traced)
            wl = WORKLOADS[name](spark, seed, work, tracer)
            gen = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                with tracer.span("inputs", "setup"):
                    wl.setup()
                gen.append(time.perf_counter() - t)
            before_setup = t0 - origin
            setup_s = before_setup + session_s + statistics.median(gen)

            passes, pass_cpu = [], []
            steal0 = steal_seconds()
            with RssSampler() as rss:
                t_loop = time.perf_counter()
                while not passes or time.perf_counter() - t_loop < seconds:
                    c0 = cpu_seconds()
                    passes.append(wl.run_pass())
                    pass_cpu.append(cpu_seconds() - c0)
                loop_s = time.perf_counter() - t_loop
            steal_s = steal_seconds() - steal0
            mismatches = wl.verify()
            summary = wl.summary(passes)
            detail = wl.query_detail(None) if hasattr(wl, "query_detail") else None
        finally:
            stop_session(spark)

        ops = [x for p in passes for x in p.op_latencies]
        errors = [e for p in passes for e in p.errors]
        attempted = len(ops) + len(mismatches)
        failed = sum(not math.isfinite(x) for x in ops) + len(mismatches)
        record = {
            "workload": name, "seed": seed, "seconds": seconds, "traced": traced,
            "environment": env,
            "end_to_end": {
                "setup_s": setup_s,
                "pass_s": median([p.wall_s for p in passes]),
                "pass_cpu_s": median(pass_cpu),
                "op_p50_s": median(ops),
            },
            "peak_rss_mb": rss.peak / 2**20,
            # the share of the machine's CPU time the hypervisor took
            # during the timed loop: what makes the wall times wander
            "steal_frac": steal_s / (loop_s * cpu_count()),
            "workload_metrics": summary,
            "failed_frac": failed / attempted if attempted else 1.0,
            "attempted": attempted,
            "failed": failed,
            "passes": len(passes),
            "op_name": wl.op_name,
            "op_latencies_s": ops,
            "setup": {"before_session_s": before_setup, "session_s": session_s,
                      "input_generation_s": gen},
            "errors": errors,
            "mismatches": mismatches,
            "spans": tracer.to_records(),
        }
        if traced:
            log = EventLog.read_dir(os.path.join(work, "eventlog"))
            groups = wl.timed_groups()
            timed = log.select(groups)
            layers = {"session.start_s": session_s, "memory.peak_rss_mb": record["peak_rss_mb"]}
            layers.update(executor_metrics(timed))
            write_stages = {t.stage for t in timed if t.records_out > 0}
            layers.update({
                "sources.scan_bytes": sum(t.bytes_in for t in timed),
                "sources.write_bytes": sum(t.bytes_out for t in timed),
                "sources.write_s": sum(log.stage_wall_s.get(s, 0.0) for s in write_stages),
            })
            layers.update(wl.layer_metrics(log))
            record["per_layer"] = layers
            if hasattr(wl, "query_detail"):
                detail = wl.query_detail(log)
        if detail is not None:
            record["queries"] = detail
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def untraced_run(name: str, seed: int, seconds: float) -> dict:
    """End-to-end numbers of one untraced run of the same workload,
    seed and run length, made in a child process of this checkout."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"untraced run failed: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    if not json.loads(lines[-1])["correct"]:
        raise RuntimeError("untraced run produced wrong outputs")
    with open(lines[0].rsplit(" record=", 1)[1]) as f:
        return json.load(f)["end_to_end"]


def save_record(record: dict) -> str:
    os.makedirs(RECORDS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(RECORDS, f"{record['workload']}-seed{record['seed']}-"
                                 f"trace{int(record['traced'])}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def _fmt(v) -> str:
    return "none" if v is None else f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    baseline = None
    origin = T_START
    if args.trace:
        t = time.perf_counter()
        baseline = untraced_run(args.workload, args.seed, args.seconds)
        origin += time.perf_counter() - t  # the untraced run made here is not set-up
    record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), origin)
    e2e = record["end_to_end"]
    if baseline is not None:
        for k, v in e2e.items():
            record["per_layer"][f"traced.{k}"] = v
            record["per_layer"][f"untraced.{k}"] = baseline[k]
        record["per_layer"]["trace.overhead_frac"] = e2e["pass_s"] / baseline["pass_s"] - 1.0
        record["per_layer"]["trace.cpu_overhead_frac"] = (e2e["pass_cpu_s"]
                                                          / baseline["pass_cpu_s"] - 1.0)
    path = save_record(record)

    env = record["environment"]
    print(f"# {args.workload} seed={args.seed} master={env['master']} "
          f"parallelism={env['default_parallelism']} passes={record['passes']} record={path}")
    for msg in record["errors"] + record["mismatches"]:
        print(f"# FAILED {msg}")
    for k, unit in {**END_TO_END, **WALL}.items():
        print(f"{k} {_fmt(e2e[k])} {unit}")
    for k, (v, unit, *rest) in record["workload_metrics"].items():
        extra = f" ({rest[0]} of {rest[1]} samples)" if rest else ""
        print(f"{k} {_fmt(v)} {unit}{extra}")
    print(f"failed_frac {_fmt(record['failed_frac'])} ratio")
    print(f"peak_rss_mb {_fmt(record['peak_rss_mb'])} MB")
    print(f"steal_frac {_fmt(record['steal_frac'])} ratio")
    if args.trace:
        out = per_layer_output(args.workload, record["per_layer"])
        for k, m in out.items():
            print(f"{k} {_fmt(m['value'])} {m['unit']}")
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": out}))
    return 0


def per_layer_output(workload: str, metrics: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json. A layer that
    layers.json says runs on this workload must have produced each of
    its metrics; one that does not run on it (no streaming query in a
    batch workload, say) did no work there and reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["layers"]
    out = {}
    for k, unit in units.items():
        prefix = next(p for p in layers if k.startswith(p))
        if k in metrics:
            out[k] = {"value": metrics[k], "unit": unit}
        elif workload in layers[prefix]["runs_on"]:
            raise RuntimeError(f"{workload} did not produce the per-layer metric {k}")
        else:
            out[k] = {"value": 0.0, "unit": unit}
    return out


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "bda_spark")):
        print(f"no engine sources (bda_spark/) under {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
