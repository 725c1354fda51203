"""Tagging-product benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload incremental_1m --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run stages its inputs for the seed
(cached under ``perfbench/.work/data``), starts the Spark session
several times to time set-up, runs the product job once cold and then
warm until ``--seconds`` have passed, checks every repetition's output
against the DuckDB oracle, and prints one JSON object as its last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The traced run also writes its spans to
``perfbench/.work/trace-<workload>-<seed>.json`` and prints a per-layer
self-time table. See ``perfbench/README.md`` for workloads and metrics.
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
WORK = os.path.join(HERE, ".work")

# fact users per workload; see README.md "Sizing" for why not 1M
USERS = {"full_1m": 20_000, "incremental_1m": 50_000, "user_retag_jdbc": 20_000}
SETUP_STARTS = 5        # session starts timed per run; setup_s is their median
WARMUP = 1              # warm repetitions run and checked but not timed: JIT still warming
MIN_WARM = 3            # timed warm repetitions even when --seconds has run out
DRIVER_MEMORY = "2g"
TRACE_TOLERANCE = 0.10  # traced wall time the layer spans may leave unexplained


def _peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set size (VmHWM) of the processes, in MiB."""
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total / 1024


def _cpu_jiffies() -> list[int]:
    """Host-wide CPU time by state from /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds the processes have used."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick


def _reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")  # resets VmHWM to the current RSS


def _session_conf(tmp: str) -> dict[str, str]:
    return {
        # a heap fixed at its maximum: no resizing, so RSS and GC pauses
        # depend on the job, not on when the JVM chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(tmp: str):
    from bigdata_tag_system_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=_session_conf(tmp))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # ready: a job has run end to end
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _layer(span_name: str) -> str:
    for layer in ("rules", "sources.catalog", "sources.writers", "plans.scenarios",
                  "operators.tagging", "operators.merge"):
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return ""


def rep_layers(tracer, root: dict) -> dict[str, float]:
    """Build times, sink times and job/stage counts of one repetition."""
    spans = tracer.tree(root)
    by = lambda name: sum(s["end"] - s["start"] for s in spans if s["name"] == name)  # noqa: E731
    self_of = lambda name: sum(s["self"] for s in spans if s["name"] == name)  # noqa: E731
    out = {
        "rules.compile_s": by("rules.load") + by("rules.compile"),
        "sources.catalog.build_s": by("sources.catalog"),
        "operators.tagging.build_s": by("operators.tagging"),
        "plans.scenarios.build_s": self_of("plans.scenarios") + by("plans.scenarios.select"),
        "operators.merge.build_s": by("operators.merge"),
        "sources.writers.dup_probe_s": by("sources.writers.dup_probe"),
        "sources.writers.write_s": self_of("sources.writers.write")
        + by("sources.writers.read_store"),
    }
    out["driver.build_s"] = (out["rules.compile_s"] + out["sources.catalog.build_s"]
                             + out["operators.tagging.build_s"])
    for s in spans:
        layer = _layer(s["name"])
        if layer:
            out[f"{layer}.jobs"] = out.get(f"{layer}.jobs", 0) + s["jobs"]
            out[f"{layer}.stages"] = out.get(f"{layer}.stages", 0) + s["stages"]
    return out


def traced_layers(tracer, root: dict, job_s: float) -> tuple[dict[str, float], list[str]]:
    """Per-layer execution deltas of the materialising repetition, and
    the problems with how well they explain its wall time."""
    import jobs

    spans = tracer.tree(root)
    wall = root["end"] - root["start"]
    mat = {s["name"][len("trace."):]: s["end"] - s["start"]
           for s in spans if s["name"].startswith("trace.")}
    names = {"sources.catalog.scan": "sources.catalog.scan_s",
             "plans.scenarios.select": "plans.scenarios.select_s",
             "operators.tagging.predicates": "operators.tagging.predicates_s",
             "operators.tagging.details": "operators.tagging.details_s",
             "operators.merge.exec": "operators.merge.exec_s"}
    out, prev = {}, 0.0
    for b in jobs.BOUNDARIES:
        if b in mat:
            out[names[b]] = mat[b] - prev
            prev = mat[b]
        else:
            out[names[b]] = 0.0
    # the sink re-runs the whole pipeline; its own cost is what it adds
    # on top of the last materialised boundary
    sink = sum(s["end"] - s["start"] for s in spans
               if s["parent"] == root["id"] and s["name"].startswith("sources.writers"))
    out["sources.writers.exec_s"] = sink - prev
    out["trace.wall_s"] = wall
    out["trace.overhead_s"] = wall - job_s
    out["trace.unattributed_share"] = root["self"] / wall
    problems = []
    if root["self"] > TRACE_TOLERANCE * wall:
        problems.append(f"spans leave {root['self'] / wall:.1%} of the traced wall "
                        f"time unexplained (tolerance {TRACE_TOLERANCE:.0%})")
    for k in list(names.values()) + ["sources.writers.exec_s"]:
        if out[k] < -TRACE_TOLERANCE * wall:
            problems.append(f"{k} delta {out[k]:.3f}s is below -{TRACE_TOLERANCE:.0%} "
                            "of the traced wall time")
    return out, problems


def _leaves(node: dict) -> int:
    if "logic" in node or "conditions" in node:
        return sum(_leaves(c) for c in node.get("conditions") or [])
    return 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "bigdata_tag_system_spark", "__init__.py")):
        print("perfbench: the bigdata_tag_system_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gen
    import jobs
    import oracle
    from spans import Tracer, self_time_table

    if args.workload not in jobs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(jobs.WORKLOADS)}", file=sys.stderr)
        return 2
    n_users = USERS[args.workload]
    tmp, run_dir = os.path.join(WORK, "tmp"), os.path.join(WORK, "run")
    for d in (tmp, run_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    # everything Python, the JVMs (launcher and driver), Spark and Derby
    # write stays inside the checkout; -XX:-UsePerfData keeps the JVMs out
    # of /tmp/hsperfdata_*
    os.environ.update({
        "TMPDIR": tmp, "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                             f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
    })

    # inputs and oracle answers: DuckDB only, so the JVM starts cold
    # whether or not this seed was staged before
    t0 = time.perf_counter()
    data = gen.generate(os.path.join(WORK, "data"), args.seed, n_users)
    with open(os.path.join(data, "rules.json")) as fh:
        rule_rows = json.load(fh)
    with open(os.path.join(data, "listed_users.json")) as fh:
        listed = json.load(fh)
    want = oracle.expected(data, args.workload, rule_rows, listed)
    stage_s = time.perf_counter() - t0

    setup = []
    for i in range(SETUP_STARTS):
        t0 = time.perf_counter()
        spark = start_session(tmp)
        setup.append(time.perf_counter() - t0)
        if i < SETUP_STARTS - 1:
            spark.stop()
    sc = spark.sparkContext
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(sc, run_id)
    ctx = jobs.Context(spark=spark, tracer=tracer, workload=args.workload, data=data,
                       work=run_dir, rule_rows=rule_rows, listed=listed, want=want)
    env = {
        "cpus": cpus, "loadavg": os.getloadavg(), "users": n_users, "seed": args.seed,
        "stage_s": stage_s,
        "spark_conf": {k: v for k, v in sorted(sc.getConf().getAll())
                       if not k.startswith(("spark.app.", "spark.driver.host",
                                            "spark.driver.port", "spark.executor.id"))},
    }

    pids = [os.getpid(), sc._jvm.ProcessHandle.current().pid()]
    env["reps"] = []
    attempted = failed = 0
    reps: list[tuple[float, dict, float]] = []
    first_job_s, traced, trace_problems = None, None, []

    def one_rep(materialise: bool = False) -> tuple[float, dict, float] | None:
        """(wall seconds, root span, peak RSS MiB) of one checked repetition;
        None when the job raised."""
        nonlocal attempted, failed
        attempted += 1
        jobs.reset(ctx)
        _reset_peak_rss(pids)
        before, cpu_before = _cpu_jiffies(), _cpu_s(pids)
        try:
            root = jobs.run_job(ctx, materialise=materialise)
            rss = _peak_rss_mb(pids)
            used = [b - a for a, b in zip(before, _cpu_jiffies())]
            env["reps"].append({"wall_s": root["end"] - root["start"],
                                "cpu_s": _cpu_s(pids) - cpu_before,
                                "steal_share": used[7] / max(1, sum(used))})
            problems = jobs.check(ctx, whole_store=False)
        except Exception:  # noqa: BLE001 — a failed repetition is counted, not fatal
            traceback.print_exc()
            failed += 1
            return None
        if problems:  # timed all the same: a wrong answer still took this long
            print(f"perfbench: repetition {attempted} wrong: {problems}", file=sys.stderr)
            failed += 1
        return root["end"] - root["start"], root, rss

    try:
        t0 = time.perf_counter()
        jobs.prepare_run(ctx)
        env["prepare_s"] = time.perf_counter() - t0
        with jobs.instrumented(ctx):
            first = one_rep()
            first_job_s = first[0] if first else None
            for _ in range(WARMUP):
                one_rep()
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline or len(reps) < MIN_WARM:
                rep = one_rep()
                if rep:
                    reps.append(rep)
                if failed > MIN_WARM + WARMUP and not reps:
                    break
            if reps:
                wrote = jobs.written(ctx)
                if args.workload == "user_retag_jdbc":
                    problems = jobs.check(ctx, whole_store=True)
                    if problems:
                        print(f"perfbench: whole-store check: {problems}", file=sys.stderr)
                        failed += 1
            if args.trace and reps:
                traced = one_rep(materialise=True)
    finally:
        stop_session(spark)

    env["run_s"] = time.perf_counter() - started
    if not reps or first_job_s is None:
        print("perfbench: no repetition ran to the end", file=sys.stderr)
        return 1
    walls = sorted(w for w, _, _ in reps)
    job_s = statistics.median(walls)
    print(f"perfbench: {args.workload} seed={args.seed} job_s p50={job_s:.3f} "
          f"max={walls[-1]:.3f} over n={len(walls)} warm repetitions; "
          f"first_job_s={first_job_s:.3f}; failed {failed}/{attempted}")
    print("perfbench env: " + json.dumps(env))

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "job_s": (job_s, "s"),
            "job_max_s": (walls[-1], "s"),
            "first_job_s": (first_job_s, "s"),
            "users_per_s": (want["users_in_scope"] / job_s, "1/s"),
            "peak_rss_mb": (statistics.median([r for _, _, r in reps]), "MiB"),
            "store_bytes_per_user": (wrote["store_bytes"] / wrote["store_rows"], "B"),
        }
    else:
        layers = [rep_layers(tracer, root) for _, root, _ in reps]
        metrics = {k: (statistics.median([lay.get(k, 0) for lay in layers]), "s")
                   for k in layers[0] if k.endswith("_s")}
        last = layers[-1]
        metrics.update({k: (v, "count") for k, v in last.items()
                        if k.endswith((".jobs", ".stages"))})
        metrics["driver.build_share"] = (metrics["driver.build_s"][0] / job_s, "ratio")
        metrics["session.first_start_s"] = (setup[0], "s")
        metrics["rules.count"] = (len(rule_rows), "count")
        metrics["rules.leaves"] = (
            sum(_leaves(json.loads(r["rule_conditions"])) for r in rule_rows), "count")
        metrics["sources.writers.rows_written"] = (wrote["rows_written"], "count")
        metrics["sources.writers.bytes_written"] = (wrote["bytes_written"], "B")
        metrics["sources.writers.write_amplification"] = (
            wrote["rows_written"] / max(1, wrote["rows_changed"]), "ratio")
        if not traced:
            print("perfbench: the traced repetition failed", file=sys.stderr)
            return 1
        metrics.update({k: (v, "ratio" if k.endswith("ratio") else "count")
                        for k, v in ctx.captured["counts"].items()})
        deltas, trace_problems = traced_layers(tracer, traced[1], job_s)
        metrics.update({k: (v, "ratio" if k.endswith("share") else "s")
                        for k, v in deltas.items()})
        print(self_time_table(tracer.tree(traced[1])))
        for problem in trace_problems:
            print(f"perfbench: trace: {problem}", file=sys.stderr)
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"),
                    {"env": env, "metrics": {k: v for k, (v, _) in metrics.items()}})

    result = {
        "correct": failed == 0 and not trace_problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
