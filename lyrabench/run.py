"""lyra_spark benchmark: one workload per run, outputs checked, metrics printed.

    python3 lyrabench/run.py --workload suite_sf0.05 --seed 42 --seconds 1 --trace 0

Run from the root of a checkout. One process, one client, closed loop: the
next operation starts when the previous one has finished. Spark runs as
``local[N]`` with N = the CPUs this process may use. Inputs come from
``lyra_spark.fixtures.materialize`` at the workload's scale and ``--seed``;
they are cached under ``.lyrabench/fixtures`` and generating them is not
timed.

``--trace 0`` prints the end-to-end metrics, measured without an event log
or wrappers. ``--trace 1`` is the separate layer-attributed run: the event
log is on, and after the cold operation a traced, an untraced and a traced
operation run; in a traced one every layer call is wrapped in a span
(lyrabench/spans.py). Its spans are written to
``.lyrabench/results/<workload>-spans.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it holds
the run's context (host, seed, scale, turns, probes, every operation wall).
See lyrabench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".lyrabench")
# stop starting operations after this much of the run: a run must end
# within 180 s, set-up included
RUN_BUDGET_S = 140.0
# fixtures kept on disk (~12 MB each at sf0.05): enough for every workload to
# reuse a seed's fixture across a sweep of ten seeds
FIXTURES_KEPT = 24

E2E_UNITS = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s", "turns_per_s": "turns/s"}


def per_layer_units() -> dict[str, str]:
    """Every metric a traced run prints, with its unit, in report order."""
    from spans import OTHER, OTHER_FIELDS, SELF_TIME_SPANS, SPAN_FIELDS, SPANS

    unit = {"wall_s": "s", "self_s": "s", "task_s": "s", "cpu_s": "s", "calls": "count", "jobs": "count",
            "tasks": "count", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
    out = {f"{s}.{f}": unit[f] for s in SPANS for f in SPAN_FIELDS}
    out.update({f"{s}.self_s": "s" for s in SELF_TIME_SPANS})
    out.update({f"{OTHER}.{f}": unit[f] for f in OTHER_FIELDS})
    out.update({
        "io.write_violations.files": "count",
        "io.write_violations.bytes": "bytes",
        "io.write_violations.last_job_s": "s",
        "io.write_violations.last_job_tasks": "count",
        "checkpoint.manifest_bytes": "bytes",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.task_s": "s",
        "spark.cpu_s": "s",
        "spark.pre_first_job_s": "s",
        "spark.driver_gap_s": "s",
        "spark.cpu_per_task_s": "ratio",
        "spark.core_occupancy": "ratio",
        "trace_overhead_s": "s",
        "resume_s": "s",
        "partition_ms_p50": "ms",
        "partition_ms_p90": "ms",
        "sink_files": "count",
    })
    return out


def host() -> dict:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gib": round(kb / 2**20, 1)}


def probes(cores: int) -> dict:
    """Host-weather context from the repo's scaling probes (never a gate)."""
    sys.path.insert(0, os.path.join(ROOT, "BENCH"))
    try:
        from run_scaling import probe_bandwidth, probe_parallel
    except ImportError:
        return {"probe_parallel_mits": None, "probe_bandwidth_gbs": None}
    finally:
        sys.path.pop(0)
    return {
        "probe_parallel_mits": probe_parallel(cores, secs=0.25),
        "probe_bandwidth_gbs": probe_bandwidth(cores, secs=0.25),
    }


def fixture(sf: str, seed: int) -> tuple[str, dict]:
    """The fixture directory for (sf, seed) and the counts the checks expect.
    Generated once into a temporary directory and renamed into place, so an
    interrupted generation never leaves a half-written fixture behind."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from lyra_spark import fixtures

    # scales outside the generator's ladder (e.g. "1.0") get 100k convs per sf,
    # the rule BENCH/run_scaling.py and tools/gen_chunks.py use
    fixtures.N_CONVS.setdefault(sf, int(float(sf) * 100_000))
    base = os.path.join(STATE, "fixtures")
    d = os.path.join(base, f"sf{sf}_seed{seed}_v{fixtures.FIXTURE_VERSION}")
    expect_path = os.path.join(d, "expect.json")
    if not os.path.exists(expect_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fixtures.materialize(sf, tmp, seed=seed)
        part = ds.partitioning(pa.schema([("part_date", pa.string())]), flavor="hive")
        t = ds.dataset(os.path.join(tmp, "transcripts"), format="parquet", partitioning=part).to_table(
            columns=["part_date", "text"]
        )
        vc = t.column("part_date").value_counts()
        inj = pq.read_table(os.path.join(tmp, "injected_violations.parquet")).to_pydict()
        expect = {
            "turns": t.num_rows,
            "text_nonnull": t.num_rows - t.column("text").null_count,
            "rows_by_date": {v["values"]: v["counts"] for v in vc.to_pylist()},
            "injected": [list(x) for x in zip(inj["conv_id"], inj["turn_idx"], inj["rule_id"])],
        }
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(expect, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(d)
    others = sorted((p for p in os.listdir(base) if ".tmp" not in p and p != os.path.basename(d)),
                    key=lambda p: os.path.getmtime(os.path.join(base, p)))
    for p in others[: max(0, len(others) + 1 - FIXTURES_KEPT)]:
        shutil.rmtree(os.path.join(base, p), ignore_errors=True)
    with open(expect_path) as f:
        return d, json.load(f)


def session(w, cores: int, extra: dict | None = None):
    from lyra_spark.session import get_spark

    return get_spark(
        master=f"local[{cores}]",
        app_name=f"lyrabench_{w.name}",
        shuffle_partitions=cores,
        extra_conf={
            **w.conf,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            **(extra or {}),
        },
    )


def stop_jvm() -> None:
    """Stop the SparkContext, if any, and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def do_op(w, i: int) -> dict:
    """One operation and its output checks. A raised error or a failed check
    marks the operation failed; a raised error also leaves it without a wall."""
    try:
        out = w.op(i)
    except Exception:
        traceback.print_exc()
        return {"wall": None, "errors": ["operation raised"]}
    try:
        errs = w.check(out)
    except Exception:
        traceback.print_exc()
        errs = ["output check raised"]
    for e in errs:
        print(f"[lyrabench] {w.name} op {i}: CHECK FAILED: {e}", file=sys.stderr)
    out["errors"] = errs
    return out


def warm_loop(w, seconds: float, deadline: float) -> list[dict]:
    """Warm operations until ``seconds`` have passed, at least one; none is
    started that the slowest so far says would overrun ``deadline``."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        slowest = max((o["wall"] or 0.0 for o in ops), default=0.0)
        if ops and time.perf_counter() + slowest > deadline:
            break
        ops.append(do_op(w, 1 + len(ops)))
    return ops


def walls(ops: list[dict], key: str = "wall") -> list[float]:
    return [o[key] for o in ops if o.get(key) is not None]


def untraced(w, cores: int, seconds: float, deadline: float) -> dict:
    t0 = time.perf_counter()
    spark = session(w, cores)
    w.open(spark)
    setup = time.perf_counter() - t0
    cold = do_op(w, 0)
    warm = warm_loop(w, seconds, deadline)
    return {"setup": setup, "cold": cold, "warm": warm}


def e2e_metrics(w, r: dict) -> dict:
    wall = statistics.median(walls(r["warm"]))
    return {
        "setup_s": r["setup"],
        "cold_wall_s": r["cold"]["wall"],
        "wall_s": wall,
        "turns_per_s": w.expect["turns"] / wall,
    }


def loop_metrics(warm: list[dict]) -> dict:
    """Partition-loop and sink figures from the traced run's warm operations
    (one untraced, two traced)."""
    out = {"resume_s": 0.0, "partition_ms_p50": 0.0, "partition_ms_p90": 0.0, "sink_files": 0.0}
    if warm[0].get("sinks"):
        out["sink_files"] = float(len(_files(warm[0]["sinks"])))
    if walls(warm, "resume"):
        out["resume_s"] = statistics.median(walls(warm, "resume"))
        pool = [p["wall_ms"] for o in warm if "fresh" in o for p in o["fresh"]["partitions"]]
        q = statistics.quantiles(pool, n=10, method="inclusive")
        out["partition_ms_p50"] = statistics.median(pool)
        out["partition_ms_p90"] = q[8]
    return out


def _files(paths: list[str]) -> list[str]:
    from workloads import parquet_files

    return [f for p in paths for f in parquet_files(p)]


def traced(w, cores: int) -> tuple[dict, list[dict]]:
    """The layer-attributed run, event log on throughout: a cold operation,
    then traced (spans installed), untraced, traced. Only the traced ones'
    spans and jobs are attributed. Operations still speed up as the JVM
    warms, so ``trace_overhead_s`` compares the untraced operation with the
    mean of the two traced ones around it, which cancels a steady trend."""
    from spans import Tracer, layer_metrics, read_event_log

    logdir = os.path.join(STATE, "eventlog", str(os.getpid()))
    shutil.rmtree(logdir, ignore_errors=True)
    os.makedirs(logdir)
    setup_tracer = Tracer()
    with setup_tracer.span("session.get_spark"):
        spark = session(w, cores, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    w.open(spark)
    tracer = Tracer(spark.sparkContext)

    def traced_op(i: int) -> dict:
        w.install_spans(tracer)
        try:
            t0 = time.time()
            out = do_op(w, i)
            windows.append((t0, time.time()))
            return out
        finally:
            tracer.unwrap_all()
            w.tracer = None

    windows: list[tuple[float, float]] = []
    cold = do_op(w, 0)
    ops = [traced_op(1), do_op(w, 2), traced_op(3)]
    app = spark.sparkContext.applicationId
    stop_jvm()  # finalizes the event log
    if any(o["wall"] is None for o in ops):
        raise RuntimeError("an operation of the traced run did not complete")
    m = layer_metrics(tracer.records, read_event_log(logdir, app), windows, cores)
    shutil.rmtree(logdir, ignore_errors=True)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{w.name}-spans.json"), "w") as f:
        json.dump({"windows": windows, "spans": setup_tracer.records + tracer.records}, f, indent=1)
    m["session.get_spark.wall_s"] = sum(r["t1"] - r["t0"] for r in setup_tracer.records)
    m["session.get_spark.calls"] = float(len(setup_tracer.records))
    m["trace_overhead_s"] = (ops[0]["wall"] + ops[2]["wall"]) / 2 - ops[1]["wall"]
    files = [_files(o["sinks"]) for o in (ops[0], ops[2])]
    m["io.write_violations.files"] = sum(len(f) for f in files) / 2
    m["io.write_violations.bytes"] = sum(os.path.getsize(x) for f in files for x in f) / 2
    m["checkpoint.manifest_bytes"] = (
        sum(os.path.getsize(o["manifest"]) for o in (ops[0], ops[2])) / 2 if "manifest" in ops[0] else 0.0
    )
    m.update(loop_metrics(ops))
    return m, [cold, *ops]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=None, help="override the workload's scale factor (self-test, sf1.0 traces)")
    args = ap.parse_args(argv)
    started = time.perf_counter()
    deadline = started + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "lyra_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "jobs", "validate.py")
    ):
        print(f"lyrabench: no lyra_spark/ and jobs/validate.py under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"lyrabench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    sf = args.sf or cls.default_sf

    hw = host()
    cores = hw["nproc"]
    for sub in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # session.get_spark defaults to a 16g heap, more than this kind of host has
    os.environ["LYRA_DRIVER_MEM"] = f"{max(2, min(8, int(hw['ram_gib']) // 4))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    weather = probes(cores)
    fx, expect = fixture(sf, args.seed)
    work = os.path.join(STATE, "work", f"{cls.name}-{os.getpid()}")
    w = cls(ROOT, fx, expect, work, cores)

    try:
        if args.trace:
            metrics, ops = traced(w, cores)
        else:
            r = untraced(w, cores, args.seconds, deadline)
            ops = [r["cold"], *r["warm"]]
            if not walls(ops[1:]) or ops[0]["wall"] is None:
                print("lyrabench: no operation completed; no metrics", file=sys.stderr)
                return 1
            metrics = e2e_metrics(w, r)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    units = per_layer_units() if args.trace else E2E_UNITS
    failed = sum(1 for o in ops if o["errors"])
    context = {
        "workload": cls.name, "seed": args.seed, "sf": sf, "trace": args.trace, **hw,
        "driver_mem": os.environ["LYRA_DRIVER_MEM"], "turns": expect["turns"], **weather,
        "op_walls_s": [o["wall"] for o in ops], "run_s": time.perf_counter() - started,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{cls.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"context": context, **result}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
