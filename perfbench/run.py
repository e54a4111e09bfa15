"""Job-level curation benchmark.

    python3 perfbench/run.py --workload curate_transcripts --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a checkout. Generates the workload's inputs from
``--seed`` (cached under ``.perfbench/cache``), starts one Spark driver
on ``local[nproc]``, runs one warm-up job over a fixed small slice, then
runs the job back to back (a closed loop, one job at a time) for
``--seconds``, checking every committed output. Prints one line per
metric, then one JSON result line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reruns the
job with Spark's event log on and spans around every module call, runs
the marginal-time ladder, writes the spans to ``.perfbench/traces`` and
reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"  # well below this class of machine's RAM; the library default is 16g


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _phase(name: str, since: float) -> None:
    print(f"perfbench: {name} {time.perf_counter() - since:.2f} s", file=sys.stderr)


# ------------------------------------------------------------ process tree


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` with shared pages split between the
    processes sharing them (PSS), so forked workers are not counted
    twice."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1e3


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _pss_mb(_tree_pids(os.getpid())))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------- spark


def _pin_environment(run_dir: str, cores: int) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            # no JVM (the Spark launcher included) writes /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )


def start_session(run_dir: str, cores: int, event_dir: str | None = None):
    from oscar_tools_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_MEM}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Stop Spark and the driver JVM, and wait until every process they
    started has ended."""
    from pyspark import SparkContext

    pids = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def environment(spark, cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores,
        "ram_gb": round(mem_kb / 1e6, 1),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_memory": DRIVER_MEM,
    }


# -------------------------------------------------------------------- jobs


class Loop:
    """Runs the job back to back, checking each output."""

    def __init__(self, wl, run_dir: str, tag: str = "out"):
        self.wl = wl
        self.run_dir = run_dir
        self.tag = tag  # output directory prefix; a reused one would resume
        self.walls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.last_ok: tuple[str, dict] | None = None

    def once(self) -> float | None:
        out = os.path.join(self.run_dir, f"{self.tag}{self.attempted}")
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            facts = self.wl.run(out)
            wall = time.perf_counter() - t0
            problems = self.wl.check(out, facts)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"perfbench: output check failed: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        self.walls.append(wall)
        if self.last_ok:
            _rm_output(self.last_ok[0])
        self.last_ok = (out, facts)
        return wall

    def until(self, seconds: float) -> None:
        start = time.perf_counter()
        while self.attempted == 0 or time.perf_counter() - start < seconds:
            self.once()
            if self.failed > 3:
                break

    def self_test(self) -> bool:
        """The check must reject a corrupted copy of a good output."""
        if self.last_ok is None:
            return False
        out, facts = self.last_ok
        return bool(self.wl.check(out, facts, corrupt=True))


def _rm_output(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + "_digests", ignore_errors=True)


def warm_up(wl_cls, spark, spans, cache: str, run_dir: str) -> None:
    import inputs

    warm = wl_cls(spark, spans, inputs.ensure(cache, wl_cls.name, 0, warmup=True), ROOT)
    out = os.path.join(run_dir, "warmup")
    warm.run(out)
    _rm_output(out)


# ------------------------------------------------------------------ traced


def _dir_size(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size / 1e6, files


def _noop(df, name: str) -> tuple[float, dict]:
    """Time a noop write of ``df``; returns (seconds, observed counts)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.size(F.split(F.coalesce(F.col("text"), F.lit("")), "\n\n"))), F.lit(0)).alias("paras"),
    )
    t0 = time.perf_counter()
    observed.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, obs.get


def _marginal_name(module: str) -> str:
    if module.startswith("operators.dedup."):
        return f"operators.dedup.{module.rsplit('.', 1)[1]}_marginal_s"
    return f"{module}.marginal_s"


def traced(wl_cls, args, cores, spark, cache, run_dir, input_dir, untraced_walls, start_s):
    """The traced run: returns the per-layer metrics."""
    from pyspark.sql import functions as F

    import tracing

    event_dir = os.path.join(run_dir, "events")
    spark.stop()
    spark = start_session(run_dir, cores, event_dir)
    spans = tracing.Spans(spark.sparkContext)
    with spans("warmup"):
        warm_up(wl_cls, spark, spans, cache, run_dir)
    wl = wl_cls(spark, spans, input_dir, ROOT)
    loop = Loop(wl, run_dir, "traced")
    job_spans = []
    for _ in range(len(untraced_walls)):
        with spans("job") as rec:
            loop.once()
        job_spans.append(rec)
    if not loop.walls:
        raise RuntimeError("traced job failed")
    job = job_spans[-1]
    out, facts = loop.last_ok
    self_test_ok = loop.self_test()

    m: dict[str, float] = {}
    times, counts = {}, {}
    prev = None
    for i, (module, build) in enumerate(wl.ladder()):
        with spans(f"ladder:{module}"):
            t, c = _noop(build(), f"ladder{i}")
        if module == "sources":
            m["sources.scan_s"] = t
        elif module is not None and prev is not None:
            m[_marginal_name(module)] = t - times[prev]
            if module.startswith("operators.dedup."):
                key = "paras" if module.endswith("paragraphs") else "rows"
                m[f"operators.dedup.{module.rsplit('.', 1)[1]}_drop_frac"] = 1 - c[key] / max(counts[prev][key], 1)
            if module == "operators.filter_tags":
                m["operators.filter_tags.kept_frac"] = c["rows"] / max(counts[prev]["rows"], 1)
        key = module or "pinned"
        times[key], counts[key], prev = t, c, key
    top = times[prev]

    by_name = {}
    for r in spans.records:
        if r["parent"] == job["id"] or r["id"] == job["id"]:
            by_name[r["name"]] = r["end"] - r["start"]
    for r in spans.records:
        if r["name"] == "sinks.write" and r["id"] in spans.subtree(job["id"]):
            m["sinks.write_s"] = (r["end"] - r["start"]) - top
    if wl_cls.name != "ingest_web":
        from oscar_tools_spark.plans.pipeline import curate

        src = wl.ladder()[-1][1]()  # the curate chain's full prefix
        with spans("probe:plain_write"):
            t0 = time.perf_counter()
            src.write.mode("overwrite").parquet(os.path.join(run_dir, "plain"))
            plain = time.perf_counter() - t0
        m["sinks.write_s"] = plain - top
        m["plans.checkpoint.overhead_s"] = by_name["plans.checkpoint"] - plain
        with spans("probe:build"):
            t0 = time.perf_counter()
            built = curate(spark.read.parquet(wl.source), wl.cfg)
            built._jdf.queryExecution().executedPlan()
            m["plans.pipeline.build_s"] = time.perf_counter() - t0
        m["operators.scrub.hit_frac"] = facts.get("scrubbed_turns", 0) / max(facts.get("kept_turns", 0), 1)
    if "plans.materialize" in by_name:
        m["plans.materialize_s"] = by_name["plans.materialize"]
    with spans("probe:max_key_rows"):
        m["operators.dedup.max_key_rows"] = wl.max_key_rows()
    m["sinks.output_mb"], m["sinks.files"] = _dir_size(out)
    spark.stop()

    log = tracing.EventLog(tracing.load_events(event_dir))
    job_ids = spans.subtree(job["id"])
    wall = job["end"] - job["start"]
    c = log.counts(job_ids, wall, cores, source_marker=wl.source)
    ckpt = [r["id"] for r in spans.records if r["name"] == "plans.checkpoint" and r["id"] in job_ids]
    m.update(
        {
            "sources.scan_passes": c["scan_passes"],
            "functions.model_udf.scored_frac": c["python_rows_out"] / wl.input_rows,
            "python.worker_s": c["python_worker_s"],
            "python.to_worker_mb": c["python_to_worker_mb"],
            "plans.checkpoint.jobs": log.counts(spans.subtree(ckpt[0]), 1, cores)["jobs"] if ckpt else 0,
            "session.start_s": start_s,
            "spark.jobs": c["jobs"],
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.busy_frac": c["busy_frac"],
            "spark.shuffle_write_mb": c["shuffle_write_mb"],
            "spark.spill_mb": c["spill_mb"],
            "spark.gc_s": c["gc_s"],
            "spark.task_skew": c["task_skew"],
            "trace.wall_s": statistics.median(loop.walls),
            "trace.overhead_frac": statistics.median(loop.walls) / statistics.median(untraced_walls) - 1,
        }
    )
    span_out = []
    for r in spans.records:
        sc = log.counts({r["id"]}, r["end"] - r["start"], cores, source_marker=wl.source)
        span_out.append({**r, "counts": sc})
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    trace_path = os.path.join(WORK, "traces", f"{wl_cls.name}-seed{args.seed}.json")
    with open(trace_path, "w") as f:
        json.dump({"workload": wl_cls.name, "seed": args.seed, "spans": span_out}, f, indent=1)
    print(f"perfbench: spans written to {os.path.relpath(trace_path, ROOT)}")
    return m, loop, self_test_ok


# -------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "oscar_tools_spark")):
        _die(f"no oscar_tools_spark package under {ROOT}; run from a full checkout")
    if not os.path.isfile(os.path.join(ROOT, "tests", "reference_model.py")):
        _die("tests/reference_model.py is missing; the output check needs it")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cache = os.path.join(WORK, "cache")
    _pin_environment(run_dir, cores)

    import inputs
    import workloads
    from tracing import Spans

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    wl_cls = workloads.WORKLOADS[args.workload]
    t_inputs = time.perf_counter()
    input_dir = inputs.ensure(cache, wl_cls.name, args.seed)
    inputs.ensure(cache, wl_cls.name, 0, warmup=True)
    _phase("inputs", t_inputs)

    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_session(run_dir, cores)
            start_s = time.perf_counter() - t0
            _phase("session", t0)
            t_warm = time.perf_counter()
            warm_up(wl_cls, spark, Spans(), cache, run_dir)
            _phase("warm-up", t_warm)
            setup_s = time.perf_counter() - t0
            env = environment(spark, cores)

            loop = Loop(wl_cls(spark, Spans(), input_dir, ROOT), run_dir)
            if args.trace:
                loop.until(0)  # one untraced job: the overhead baseline
                metrics, tloop, self_test_ok = traced(
                    wl_cls, args, cores, spark, cache, run_dir, input_dir, loop.walls or [float("nan")], start_s
                )
                loop.attempted += tloop.attempted
                loop.failed += tloop.failed
            else:
                loop.until(args.seconds)
                self_test_ok = loop.self_test()
        if not args.trace:
            wall = statistics.median(loop.walls) if loop.walls else float("nan")
            metrics = {
                "wall_s": wall,
                "rows_per_s": loop.wl.input_rows / wall,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak,
            }
    finally:
        t_stop = time.perf_counter()
        stop_jvm()
        _phase("stop", t_stop)
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    unknown = set(metrics) - set(units)
    if unknown:
        print(f"perfbench: measured but not listed in BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
    # a layer the workload does not use reads 0
    metrics = {name: float(metrics.get(name, 0.0)) for name in units}
    print(json.dumps({"environment": env, "workload": wl_cls.name, "seed": args.seed,
                      "input_rows": loop.wl.input_rows, "job_walls_s": [round(w, 3) for w in loop.walls]}))
    if not self_test_ok:
        print("perfbench: the output check accepted a corrupted output", file=sys.stderr)
    print(f"failed_frac {loop.failed / max(loop.attempted, 1):.4f} frac ({loop.failed}/{loop.attempted} jobs)")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": loop.failed == 0 and self_test_ok,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
