"""Benchmark entry point: one workload, one fresh process, one client.

    python3 perfbench/run.py --workload {flights_etl,dedup,codec}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The seed builds the inputs (``gen.py``) and
fixes the shuffled query order of every warm pass. The run then

1. times ``session.get_spark`` up to its first trivial action
   (``setup_s``; one JVM start per run, see README.md);
2. runs every query of the workload once (``cold_pass_s``) and checks its
   output against DuckDB;
3. repeats shuffled warm passes until ``--seconds`` have passed (at least
   ``MIN_WARM_PASSES``), timing each query from the call into the engine
   until its output is fully computed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones (see README.md). Every run also
writes a uniquely named artifact to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine package sits at the repository root

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

#: Spark task slots: one client in one process, never more than the host has.
SLOTS = min(4, len(os.sched_getaffinity(0)))
#: JVM heap (spark.driver.memory), fixed so memory use does not follow the host.
DRIVER_MEMORY = "2g"
#: Unmeasured warm passes after the cold pass: pass times decay fastest
#: over the first warm executions, while the JIT compiles (README.md).
WARMUP_PASSES = 1
#: Measured warm passes per run, at least.
MIN_WARM_PASSES = 3
#: A pass during which the hypervisor stole more than this share of the
#: host's CPU is recorded but not counted, and up to MAX_EXTRA_PASSES more
#: are made: steal bursts of 13-22 % stretched passes up to 2x on a 4-vCPU VM.
STEAL_MAX = 0.02
MAX_EXTRA_PASSES = 3
#: Traced runs alternate plain and traced passes; this many traced ones.
MIN_TRACED_PASSES = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "cpu_s": "s",
}

_DATA = os.path.join(ROOT, ".perfbench_data")
_WORK = os.path.join(ROOT, ".perfbench_work")
_OUT = os.path.join(ROOT, ".perfbench_out")


def configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    for d in ("tmp", "local", "warehouse", "derby", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        # No HotSpot perf-data file outside the work dir, for any JVM started.
        JAVA_TOOL_OPTIONS=" ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
        ),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(SLOTS),
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
    )
    os.environ.pop("SPARK_MASTER", None)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: str, trace: bool):
    """``get_spark`` then one trivial action; returns (spark, jvm_s, first_s)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work, trace))
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait for them."""
    gateway = spark.sparkContext._gateway
    pids = [p for p in stats.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)


def stamp(workload: str, seed: int, trace: int) -> str:
    now = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    return f"{workload}_{now}_pid{os.getpid()}_seed{seed}_trace{trace}"


def run_op(spark, wl, op, cold: bool, tracer=None, parent: int | None = None,
           qid: str = ""):
    """One query: build, then compute fully. Returns (latency_s, collected)."""
    collected = None
    t0 = time.perf_counter()
    if tracer is None:
        df = op.build(spark)
        if op.write is not None:
            op.write(df)
        elif cold:
            collected = ([tuple(r) for r in df.collect()], list(df.columns))
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, collected

    with tracer.span("query", parent, qid, op=op.name) as q:
        with tracer.span("build", q["id"], qid) as b, tracer.counting_py4j(b):
            df = op.build(spark)
        b["catalyst"] = tracer.catalyst_phases(df)
        if op.write is not None:
            with tracer.span("write", q["id"], qid) as w:
                op.write(df)
            w["files"], w["bytes"] = tracing.dir_files(op.out_dir)
        else:
            with tracer.span("action", q["id"], qid):
                df.write.format("noop").mode("overwrite").save()
        tracer.clear_group()
        q["cache"] = tracer.storage()
    return time.perf_counter() - t0, None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    name = stamp(args.workload, args.seed, args.trace)
    work = os.path.join(_WORK, name)
    try:
        return _run(args, workloads, name, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _pass(spark, wl, k: int, kind: str, tracer=None, parent=None) -> tuple[dict, int]:
    """Warm pass ``k`` in the seed's shuffled order; returns (record, failures)."""
    rec, failed = {"pass": k, "kind": kind, "latencies": {}}, 0
    me = os.getpid()
    ticks, cpu, tp = stats.cpu_ticks(), stats.tree_cpu_s(me), time.perf_counter()
    for op in wl.ops(k):
        try:
            rec["latencies"][op.name], _ = run_op(
                spark, wl, op, False, tracer, parent, f"p{k}-{op.name}"
            )
        except Exception as exc:  # counted, the run goes on
            failed += 1
            print(f"perfbench: {op.name} failed: {exc!r}", file=sys.stderr)
    rec["wall_s"] = time.perf_counter() - tp
    rec["cpu_s"] = stats.tree_cpu_s(me) - cpu
    rec["steal"] = stats.steal_share(ticks, stats.cpu_ticks())
    return rec, failed


def _warm_passes(spark, wl, seconds: float, tracer) -> tuple[list[dict], int]:
    """``WARMUP_PASSES`` unmeasured passes, then closed-loop measured passes
    until ``seconds`` have passed and ``MIN_WARM_PASSES`` plain passes ran
    with at most ``STEAL_MAX`` of the host's CPU stolen (at most
    ``MAX_EXTRA_PASSES`` more are made to find them). A traced run instead
    alternates plain and traced passes. Returns (passes, failures)."""
    passes, failed = [], 0
    for k in range(WARMUP_PASSES):
        rec, f = _pass(spark, wl, k, "warmup")
        passes.append(rec)
        failed += f
    t0 = time.perf_counter()
    with contextlib.ExitStack() as run_stack:
        run = run_stack.enter_context(tracer.span("run", None)) if tracer else None
        k = WARMUP_PASSES
        while True:
            if tracer is not None and (k - WARMUP_PASSES) % 2 == 1:
                with tracer.span("pass", run["id"], pass_no=k) as span:
                    rec, f = _pass(spark, wl, k, "traced", tracer, span["id"])
                rec["span"] = span["id"]
            else:
                rec, f = _pass(spark, wl, k, "plain")
            passes.append(rec)
            failed += f
            k += 1
            kinds = [p["kind"] for p in passes]
            traced = kinds.count("traced")
            if tracer is None:
                enough = len(_quiet(passes)) >= MIN_WARM_PASSES or (
                    k - WARMUP_PASSES >= MIN_WARM_PASSES + MAX_EXTRA_PASSES
                )
            else:  # end on a plain pass, so every traced one sits between two
                enough = traced >= MIN_TRACED_PASSES and kinds.count("plain") > traced
            if enough and time.perf_counter() - t0 >= seconds:
                return passes, failed


def _quiet(passes: list[dict]) -> list[dict]:
    """Plain passes with at most ``STEAL_MAX`` of the host's CPU stolen."""
    return [p for p in passes if p["kind"] == "plain" and p["steal"] <= STEAL_MAX]


def _counted(passes: list[dict]) -> list[dict]:
    """The passes the end-to-end metrics use: the quiet ones, or every plain
    pass when too few were quiet."""
    quiet = _quiet(passes)
    if len(quiet) >= MIN_WARM_PASSES:
        return quiet
    return [p for p in passes if p["kind"] == "plain"]


def _run(args, workloads, name: str, work: str) -> int:
    host = {"load1_start": stats.load1(), "slots": SLOTS, "nproc": os.cpu_count(),
            "driver_memory": DRIVER_MEMORY, "seed": args.seed}
    ticks0 = stats.cpu_ticks()
    inputs = gen.inputs_dir(_DATA, args.seed)
    configure_env(work)
    wl = workloads.WORKLOADS[args.workload](inputs, os.path.join(work, "out"), args.seed)

    rss = stats.RssSampler(os.getpid()) if args.trace else None
    with rss or contextlib.nullcontext():
        spark, jvm_s, first_s = start_session(work, bool(args.trace))
        tracer = tracing.Tracer(spark) if args.trace else None

        # Cold pass: each query's first execution in this fresh session.
        collected, failed = {}, 0
        ops = wl.ops(None)
        t0 = time.perf_counter()
        for op in ops:
            try:
                _, collected[op.name] = run_op(spark, wl, op, True)
            except Exception as exc:  # counted, the run goes on
                failed += 1
                print(f"perfbench: {op.name} failed: {exc!r}", file=sys.stderr)
        cold_pass_s = time.perf_counter() - t0
        checks = wl.check(spark, collected) if failed == 0 else {}
        output_rows = wl.output_rows(collected) if failed == 0 else {}

        passes, warm_failed = _warm_passes(spark, wl, args.seconds, tracer)
        failed += warm_failed
        if wl.writes and warm_failed == 0:
            # The last warm pass rewrote every output: check it too.
            checks.update({f"warm:{k}": v for k, v in wl.check(spark, collected).items()})
        stop_session(spark)
    host["load1_end"] = stats.load1()
    host["steal"] = stats.steal_share(ticks0, stats.cpu_ticks())
    attempted = len(ops) * (1 + len(passes))  # every pass runs every op

    counted = _counted(passes)
    for p in counted:
        p["counted"] = True
    latencies = [v for p in counted for v in p["latencies"].values()]
    correct = failed == 0 and bool(checks) and all(checks.values())
    metrics = {
        "setup_s": jvm_s + first_s,
        "cold_pass_s": cold_pass_s,
        "warm_pass_s": stats.median([p["wall_s"] for p in counted]),
        "query_p50_s": stats.median(latencies),
        "cpu_s": stats.median([p["cpu_s"] for p in counted]),
    }
    try:
        t_val, t_pct, t_n = stats.tail(latencies)
        tail = {"value_s": t_val, "percentile": t_pct, "samples": t_n}
    except stats.TooFewSamples as exc:
        tail = {"refused": str(exc), "samples": len(latencies)}
    artifact = {
        "name": name, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "sizes": gen.SIZES, "queries": [op.name for op in ops],
        "checks": checks,
        "attempted": attempted, "failed": failed,
        "end_to_end": metrics, "query_tail": tail, "passes": passes,
    }
    if tracer is not None and failed == 0:
        layers, artifact["per_query"] = _layers(tracer, passes, work, output_rows)
        layers["session.jvm_start_s"], layers["session.first_action_s"] = jvm_s, first_s
        layers["session.rss_mb"] = rss.peak_mb
        # Each traced pass against the mean of its plain neighbours, which
        # cancels the pass-to-pass decay of a warming JIT.
        walls = [p["wall_s"] for p in passes if p["kind"] != "warmup"]
        layers["trace.overhead_s"] = stats.median(
            [walls[k] - (walls[k - 1] + walls[k + 1]) / 2 for k in range(1, len(walls), 2)]
        )
        artifact["per_layer"] = layers
        artifact["spans"] = tracer.spans
        units = tracing.PER_LAYER_UNITS
        printed = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        printed = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

    os.makedirs(_OUT, exist_ok=True)
    path = os.path.join(_OUT, name + ".json")
    with open(path, "x") as f:  # never overwrite another artifact
        json.dump(artifact, f, indent=1)
    print(f"perfbench: wrote {os.path.relpath(path, ROOT)}; tail {tail}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": printed}))
    return 0


def _layers(tracer, passes, work: str, output_rows: dict[str, int]):
    """Medians over traced warm passes of each per-layer total, for the whole
    pass and for each query on its own."""
    groups = tracing.read_event_log(os.path.join(work, "eventlog"))
    queries = [
        [s for s in tracer.spans if s["parent"] == p["span"]]
        for p in passes if p["kind"] == "traced"
    ]

    def medians(per: list[dict]) -> dict[str, float]:
        return {k: stats.median([d[k] for d in per]) for k in per[0]}

    whole = medians([tracing.layers_of(tracer, qs, groups, output_rows) for qs in queries])
    by_query = {
        q["op"]: medians(
            [tracing.layers_of(tracer, [x], groups, output_rows)
             for qs in queries for x in qs if x["op"] == q["op"]]
        )
        for q in queries[0]
    }
    return whole, by_query


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
