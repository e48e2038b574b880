"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 7 --seconds 10 --trace 0

Run from the repository root. One process is one closed-loop client: it
starts ``local[<cores>]`` Spark, builds the workload's inputs from
``--seed``, then runs timed passes back to back (each starts after the
previous one finished) until ``--seconds`` have passed, at least one pass;
a traced run (``--trace 1``) makes one pass. Every pass is checked for
correctness. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
All files go under ``.bench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    boot = time.time() - uptime
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")


def machine() -> dict:
    """Cores this process may use and a driver heap that fits the box: 4 GB
    per core as bench.py sizes it, capped at 30% of MemTotal because the
    machine's memory is shared."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4 * cores, int(mem_kb / 2**20 * 0.3)))
    return {"cores": cores, "mem_total_gb": mem_kb / 2**20, "heap_gb": heap_gb}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat.
    Steal is time the hypervisor gave to other guests while this one had
    work to run; a run with a few percent of it reads slower."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """All processes below ``pid`` (Spark's Python worker daemon and its
    workers hang off the JVM)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def start_spark(work: str, cores: int, app: str, event_dir: str | None):
    from post_processor_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=cores, app_name=app, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM and every process under it, and wait
    for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    below = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in below) and time.time() < deadline:
        time.sleep(0.1)
    for p in below:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def run(args, root: str, work: str, t_proc: float) -> dict:
    import spans as tracing
    import workloads

    box = machine()
    steal0, ticks0 = cpu_ticks()
    os.environ["SPARK_DRIVER_MEM"] = f"{box['heap_gb']}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Spark's Python workers import the program's UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    t = time.time()
    spark = start_spark(work, box["cores"], f"perfbench-{args.workload}", event_dir)
    session_s = time.time() - t
    jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else None
    info = {
        "workload": args.workload, "seed": args.seed, "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": f"{box['heap_gb']}g", "mem_total_gb": round(box["mem_total_gb"], 1),
    }
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
    tr = tracing.Tracer(spark.sparkContext, enabled=False)
    attempted = failed = 0
    walls, items, gen_walls, errors, check_s = [], [], [], [], []
    layer_counts, pass_window = {}, None
    try:
        t = time.time()
        wl.build_inputs()
        build_s = time.time() - t
        t = time.time()
        wl.warm_up()
        warm_s = time.time() - t
        # set-up: process start to a ready session, the input build and the
        # warm-up
        setup_s = time.time() - t_proc

        if args.trace:
            tr = tracing.Tracer(spark.sparkContext)
            wl.wraps(tr)

        t_start = time.time()
        k = 0
        while k == 0 or time.time() - t_start < args.seconds:
            k += 1
            attempted += 1
            if k > 1:
                # start from the state the first pass had: no caches left by
                # the previous pass, inputs cached afresh
                workloads.release_caches(spark)
                wl.build_inputs()
            t0 = time.time()
            try:
                result = wl.run_pass(k, tr)
                t1 = time.time()
            except Exception as e:  # a pass that raises is a failed operation
                failed += 1
                errors.append(f"pass {k}: {type(e).__name__}: {e}")
                walls.append(time.time() - t0)
                pass_window = (t0, time.time())
                break
            walls.append(t1 - t0)
            items.append(result["items"])
            if "generation_s" in result:
                gen_walls.append(result["generation_s"])
            pass_window = (t0, t1)
            t = time.time()
            try:
                wl.check(result)
            except Exception as e:
                failed += 1
                errors.append(f"pass {k}: {type(e).__name__}: {e}")
            check_s.append(time.time() - t)
            if args.trace:
                tr.unwrap_all()
                layer_counts = wl.layer_counts(result)
                break
        peak_rss = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
    finally:
        tr.unwrap_all()
        stop_spark(spark)

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    steal1, ticks1 = cpu_ticks()
    wall = statistics.median(walls)
    rate = statistics.median(i / w for i, w in zip(items, walls)) if items else 0.0
    unit = "urls_per_s" if args.workload == "crawl" else "docs_per_s"
    info.update({
        "passes": len(walls), "pass_walls": walls, unit: rate, "wall_s": wall, "setup_s": setup_s,
        "session_s": session_s, "input_build_s": build_s, "warm_up_s": warm_s,
        "check_s": check_s, "peak_rss_mb": peak_rss,
        "host_steal": (steal1 - steal0) / max(1, ticks1 - ticks0),
    })
    if gen_walls:
        info["generation_s"] = statistics.median(gen_walls)
        info["generation_samples"] = len(gen_walls)
    print(json.dumps(info))
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        values = {"setup_s": setup_s, "wall_s": wall, "items_per_s": rate}
        out["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        return out
    log = tracing.parse_event_log(_event_log_file(event_dir))
    values = {"process.peak_rss_mb": peak_rss}
    values.update(per_layer(tr.spans, log, pass_window, session_s, layer_counts))
    values["trace.overhead_s"] = tr.overhead_s
    out["metrics"] = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
    return out


def _event_log_file(event_dir: str) -> str:
    files = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    return os.path.join(event_dir, files[0])


E2E_UNITS = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s"}

PER_LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "canon.with_canonical_s": "s",
    "seen.filter_unseen_s": "s",
    "seen.new_ratio": "ratio",
    "seen.bloom_fp_ratio": "ratio",
    "frontier.bootstrap_s": "s",
    "frontier.run_generation_s": "s",
    "frontier.run_generation.jobs": "count",
    "frontier.run_generation.stages": "count",
    "frontier.run_generation.tasks": "count",
    "frontier.run_generation.driver_s": "s",
    "frontier.top_per_host_s": "s",
    "frontier.politeness_schedule_s": "s",
    "frontier.apply_robots_s": "s",
    "state.write_many_s": "s",
    "state.read_s": "s",
    "state.bytes_written_mb": "MB",
    "state.files_written": "count",
    "ingest.documents_s": "s",
    "ingest.docs_meta_s": "s",
    "ingest.dedupe_by_url_s": "s",
    "citations.plan_s": "s",
    "citations.match_citations_s": "s",
    "citations.referrals_s": "s",
    "citations.jobs": "count",
    "citations.matched_docs_ratio": "ratio",
    "sources.write_s": "s",
    "sources.bytes_written_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_wait_s": "s",
    "spark.driver_only_s": "s",
    "trace.overhead_s": "s",
}


def per_layer(spans: list[dict], log: dict, window, session_s: float, counts: dict) -> dict:
    """Per-layer metrics of the traced pass. A layer the workload does not
    call reads 0. ``_s`` metrics of lazy builders (canon, ingest, the
    frontier rankers, citations planning) are driver time spent building
    the plan; the Spark work of that plan runs later, under the span of
    the call that executes it."""
    import spans as tracing

    t0, t1 = window
    spans = [s for s in spans if t0 <= s["start"] <= t1]
    selft = tracing.self_times(spans)
    per = tracing.attribute(log, spans)
    jobs_iv = tracing.job_intervals(log)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def incl(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def self_(name):
        return sum(selft[s["id"]] for s in named(name))

    gens = named("frontier.run_generation")
    gen_work = [tracing.rollup(per, tracing.subtree(spans, g["id"])) for g in gens]
    n_gen = max(1, len(gens))
    commits = len(named("frontier.bootstrap")) + len(gens)
    window_span = [{"id": "pass", "name": "pass", "parent": None, "start": t0, "end": t1}]
    total = tracing.attribute(log, window_span).get("pass", dict(tracing._ZERO))
    sink_jobs = sum(
        tracing.rollup(per, tracing.subtree(spans, s["id"]))["jobs"]
        for s in named("sources.write_parquet")
    )
    v = {
        "session.get_spark_s": session_s,
        "canon.with_canonical_s": self_("canon.with_canonical"),
        "seen.filter_unseen_s": incl("seen.filter_unseen"),
        "seen.new_ratio": counts.get("seen.new_ratio", 0.0),
        "seen.bloom_fp_ratio": counts.get("seen.bloom_fp_ratio", 0.0),
        "frontier.bootstrap_s": incl("frontier.bootstrap"),
        "frontier.run_generation_s": incl("frontier.run_generation"),
        "frontier.run_generation.jobs": sum(w["jobs"] for w in gen_work) / n_gen,
        "frontier.run_generation.stages": sum(w["stages"] for w in gen_work) / n_gen,
        "frontier.run_generation.tasks": sum(w["tasks"] for w in gen_work) / n_gen,
        "frontier.run_generation.driver_s": sum(
            (g["end"] - g["start"]) - tracing.covered(jobs_iv, g["start"], g["end"])
            for g in gens
        ) / n_gen,
        "frontier.top_per_host_s": self_("frontier.top_per_host"),
        "frontier.politeness_schedule_s": self_("frontier.politeness_schedule"),
        "frontier.apply_robots_s": self_("frontier.apply_robots"),
        "state.write_many_s": incl("state.write_many") / max(1, commits),
        "state.read_s": incl("state.read") / max(1, commits),
        "state.bytes_written_mb": counts.get("state.bytes_written_mb", 0.0),
        "state.files_written": counts.get("state.files_written", 0.0),
        "ingest.documents_s": self_("ingest.documents"),
        "ingest.docs_meta_s": self_("ingest.docs_meta"),
        "ingest.dedupe_by_url_s": self_("ingest.dedupe_by_url"),
        "citations.plan_s": incl("citations.run_pipeline"),
        "citations.match_citations_s": incl("citations.match_citations"),
        "citations.referrals_s": incl("citations.referrals"),
        "citations.jobs": sink_jobs,
        "citations.matched_docs_ratio": counts.get("citations.matched_docs_ratio", 0.0),
        "sources.write_s": incl("sources.write_parquet"),
        "sources.bytes_written_mb": counts.get("sources.bytes_written_mb", 0.0),
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.failed_tasks": total["failed_tasks"],
        "spark.executor_cpu_s": total["cpu_s"],
        "spark.gc_s": total["gc_s"],
        "spark.shuffle_write_mb": total["shuffle_write_mb"],
        "spark.spill_mb": total["spill_mb"],
        # mean time a task queued between its stage's submission and launch
        "spark.task_wait_s": total["task_wait_s"] / max(1, total["tasks"]),
        "spark.driver_only_s": (t1 - t0) - tracing.covered(jobs_iv, t0, t1),
    }
    return v


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl", "analyze"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    t_proc = process_start_epoch()
    sys.path.insert(0, HERE)
    root = os.getcwd()
    sys.path.insert(0, root)
    # fail before any output when the program is not in the working directory
    import post_processor_spark  # noqa: F401

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        out = run(args, root, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
