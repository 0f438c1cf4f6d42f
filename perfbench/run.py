"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 15 --trace 0

A closed loop of one client: items run one at a time on
``local[<cores>]``, driven only through the program's public
functions. The run

1. generates its inputs in a child process (outside every timed region);
2. sets up once, cold: ``get_spark`` launches the JVM, then
   ``warm_python_worker_pool`` and a fixed warm-up item at small scale;
3. times a fixed number of passes over the items, each item forced and
   then checked outside its timed region;
4. prints a summary to stderr and, as the last stdout line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` passes alternate untraced and traced; the traced passes
read every item's job group from the status store, the metrics are the
per-layer ones, and the tracing overhead (traced minus untraced median
pass) goes to stderr and the trace file. Records and spans are
written under ``.perfbench_work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pathlib
import resource
import subprocess
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "mit6_5840_6_824_lab1_mapreduce_spark"
TICK = os.sysconf("SC_CLK_TCK")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: pathlib.Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let the workers import the package and
    the benchmark (they unpickle functions by module path)."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # The driver heap the program defaults to (8g) lets one run's JVM
    # grow past 5 GB on the loop queries. 1g holds every item here, and
    # the loop queries fill it in every run, so peak RSS varies little
    # from run to run (at 2g it varied by 15%, with the heap's growth).
    # mr_corpus does not fill it, and with the heap starting small and
    # growing as the collector chose, its peak RSS moved between 670 and
    # 920 MB over ten runs; the heap starts at its full size instead.
    # spark-submit adds SPARK_SUBMIT_OPTS to the driver JVM only: in
    # JAVA_TOOL_OPTIONS -Xms1g would also reach the small launcher JVM,
    # which then fails to start.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_SUBMIT_OPTS"] = "-Xms1g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def _session(cores: int, work: pathlib.Path):
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in pathlib.Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _shutdown(spark, jvm_pid: int) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    workers = _descendants(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it ends either way
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in [jvm_pid, *workers]:
        while pathlib.Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)


def _cpu_ticks() -> tuple[int, int]:
    """``(busy, steal)`` clock ticks of the whole machine since boot, from
    the first line of ``/proc/stat``. Steal is time the host ran
    something else on this machine's virtual CPUs."""
    fields = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    idle = fields[3] + fields[4]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]) - idle - steal, steal


def _probe() -> float:
    """Seconds a fixed pure-Python loop takes: how fast a core of this
    machine runs just now."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i % 7
    return time.perf_counter() - t


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """``(JVM, Python)``: ``VmHWM`` of the JVM and the peak RSS of this
    process, in MB. Inputs and expected outputs are made in a child
    process, so the latter is the program's driver side: pyspark, the
    query code and what ``collect`` brings back."""
    hwm_kb = 0
    for line in pathlib.Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            hwm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return hwm_kb / 1024.0, py_kb / 1024.0


def _run_all(args, workloads) -> int:
    """``--workload all``: every workload in turn, each in a process of
    its own. Their summaries go to stderr; the result line merges theirs,
    with each metric named ``<workload>.<metric>``."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode:
            return proc.returncode
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        total["correct"] = total["correct"] and line["correct"]
        total["attempted"] += line["attempted"]
        total["failed"] += line["failed"]
        total["metrics"].update({f"{name}.{k}": m for k, m in line["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").exists():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import record
    from perfbench.layers import StageReader, Tracer, self_times
    from perfbench.workloads import WORKLOADS, pass_count

    if args.workload == "all":
        return _run_all(args, WORKLOADS)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work"
    _environment(work)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    prep = wl.prepare(work, args.seed)
    prepare_s = time.perf_counter() - t0
    off = Tracer(enabled=False)

    def no_mark():
        return None

    # --- set-up, once and cold: this process has no JVM yet ---------------------
    # A second cold set-up would cost as much again (16-35 s on 4 cores),
    # which a full measurement of every workload has no time for.
    from mit6_5840_6_824_lab1_mapreduce_spark.session import warm_python_worker_pool

    busy0, steal0 = _cpu_ticks()
    t0 = time.perf_counter()
    spark = _session(cores, work)
    t1 = time.perf_counter()
    warm_python_worker_pool(spark)
    t2 = time.perf_counter()
    for it in prep.warm_items:
        it.reset()
        it.run(spark, off, None, no_mark)
    t3 = time.perf_counter()
    busy1, steal1 = _cpu_ticks()
    setup_s, start_s, pool_s = t3 - t0, t1 - t0, t2 - t1
    setup = (setup_s, (busy1 - busy0) / TICK, (steal1 - steal0) / TICK)
    sc = spark.sparkContext
    jvm_pid = _jvm_pid(spark)
    env = record.env_stamp(spark, ROOT)

    # --- timed passes ----------------------------------------------------------
    reader = StageReader(spark)
    tracer = Tracer()
    # A traced run makes as many passes as a timed one, alternating
    # untraced and traced, so it takes no longer.
    n_passes = pass_count(args.seconds, wl)
    passes: list[dict] = []
    items_log: list[dict] = []
    # Probe times, one before and one after each item, outside its
    # timed region: how fast the host ran this machine's cores.
    probes: list[float] = []
    attempted = failed = 0
    run_start = time.perf_counter()
    with tracer.span("workload", None, workload=wl.name, seed=args.seed):
        for p in range(n_passes):
            traced = bool(args.trace) and p % 2 == 1
            tr = tracer if traced else off
            walls, layer_rows = [], []
            with tr.span("pass", None, index=p):
                for i, it in enumerate(prep.items):
                    it.reset()
                    spark.catalog.clearCache()
                    gc.collect()
                    group = f"perfbench:{p}:{i}:{it.name}"
                    tid = f"{p}:{it.name}"
                    sc.setJobGroup(group, it.name)
                    counts = {"build_jobs": 0}

                    def mark(group=group, counts=counts):
                        if traced:
                            counts["build_jobs"] = len(reader.job_ids(group))

                    attempted += 1
                    entry = {"pass": p, "item": it.name, "traced": traced}
                    first_span = len(tracer.spans)
                    probes.append(_probe())
                    busy0, steal0 = _cpu_ticks()
                    t_item = time.perf_counter()
                    try:
                        with tr.span("item", tid, item=it.name):
                            out = it.run(spark, tr, tid, mark)
                        entry["seconds"] = time.perf_counter() - t_item
                        busy1, steal1 = _cpu_ticks()
                        entry["busy_s"] = (busy1 - busy0) / TICK
                        entry["steal_s"] = (steal1 - steal0) / TICK
                        sc.setJobGroup("perfbench:idle", "between items")
                        err = it.check(out)
                    except Exception:  # noqa: BLE001 - count it, keep running
                        entry["seconds"] = time.perf_counter() - t_item
                        sc.setJobGroup("perfbench:idle", "between items")
                        err = traceback.format_exc(limit=3)
                    if err:
                        failed += 1
                        entry["error"] = err
                        print(f"perfbench: {it.name} failed: {err}", file=sys.stderr)
                    walls.append(entry["seconds"])
                    probes.append(_probe())
                    if traced:
                        counts.update(reader.read(group))
                        child = [s for s in tracer.spans[first_span:] if s["name"] != "item"]
                        entry["layers"] = record.item_layers(child, counts, it.is_mr)
                        layer_rows.append(entry["layers"])
                    items_log.append(entry)
            passes.append(
                {"index": p, "traced": traced, "wall_s": sum(walls), "items": layer_rows}
            )
    measured_s = time.perf_counter() - run_start
    # Host steal while timed items ran, against the CPU time they spanned.
    steal_s = sum(e.get("steal_s", 0.0) for e in items_log)
    spanned_s = cores * sum(e["seconds"] for e in items_log)
    jvm_mb, py_mb = _peak_rss_mb(jvm_pid)

    # --- metrics ----------------------------------------------------------------
    traced_p = [p for p in passes if p["traced"]]

    def samples(traced: bool) -> dict[str, list[tuple[float, float, float]]]:
        """Item -> its ``(seconds, busy_s, steal_s)`` in the passes."""
        out: dict[str, list[tuple[float, float, float]]] = {}
        for e in items_log:
            if e["traced"] == traced:
                x = (e["seconds"], e.get("busy_s", 0.0), e.get("steal_s", 0.0))
                out.setdefault(e["item"], []).append(x)
        return out

    e2e, tail_info = record.end_to_end_metrics(
        setup, samples(False), prep.input_bytes, jvm_mb + py_mb, probes
    )
    overhead = None
    if traced_p:
        traced_s = {k: [x[0] for x in v] for k, v in samples(True).items()}
        overhead = record.median_pass(traced_s) - e2e["wall_raw_s"]
        session = {"session.start_s": start_s, "session.pool_warm_ms": 1e3 * pool_s}
        metrics = record.per_layer_metrics(traced_p, session, cores)
        units = record.PER_LAYER
    else:
        metrics, units = e2e, record.END_TO_END
    correct = failed == 0
    rec = {
        "schema": 1,
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "input_bytes": prep.input_bytes,
        "prepare_s": prepare_s,
        "setup_s": setup_s,
        "setup_busy_steal_s": list(setup[1:]),
        "session_start_s": start_s,
        "pool_warm_s": pool_s,
        "measured_s": measured_s,
        "steal_s": steal_s,
        "probes_s": probes,
        "peak_rss_mb": {"jvm": jvm_mb, "python": py_mb},
        "passes": [{k: v for k, v in p.items() if k != "items"} for p in passes],
        "items": items_log,
        "end_to_end": e2e,
        "item_tail": tail_info,
        "per_layer": metrics if traced_p else None,
        "trace_overhead_s": overhead,
        "span_self_s": self_times(tracer.spans) if traced_p else None,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
    }
    out_dir = work / "records"
    out_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{tag}.json").write_text(json.dumps(rec, indent=1))
    if traced_p:
        (out_dir / f"{tag}.spans.json").write_text(json.dumps(tracer.spans))

    # --- summary and result line ------------------------------------------------
    print(
        f"perfbench {wl.name} seed={args.seed} cores={env['cores']} timed_passes={len(passes)} "
        f"input={prep.input_bytes / 1e6:.2f}MB fail_ratio={failed}/{attempted}",
        file=sys.stderr,
    )
    for k, unit in {**record.END_TO_END, **record.REPORTED}.items():
        extra = ""
        if k == "item_tail_s":
            extra = f"  (p{tail_info['percentile']} of {tail_info['samples']} samples)"
        print(f"  {k:40s} {e2e[k]:12.4f} {unit}{extra}", file=sys.stderr)
    if traced_p:
        for k, unit in record.PER_LAYER.items():
            print(f"  {k:40s} {metrics[k]:12.4f} {unit}", file=sys.stderr)
        map_tasks = {
            e["item"]: int(e["layers"]["operators.mapreduce.map_tasks"])
            for e in items_log
            if "layers" in e and e["item"] in {it.name for it in prep.items if it.is_mr}
        }
        if map_tasks:
            per_app = ", ".join(f"{k}={v}" for k, v in sorted(map_tasks.items()))
            print(f"  operators.mapreduce.map_tasks per app: {per_app}", file=sys.stderr)
        print(f"  tracing overhead (traced - untraced wall_s): {overhead:+.4f} s", file=sys.stderr)

    t0 = time.perf_counter()
    _shutdown(spark, jvm_pid)
    print(
        f"  inputs {prepare_s:.2f} s, shutdown {time.perf_counter() - t0:.2f} s, "
        f"host steal {steal_s:.2f} of {spanned_s:.1f} CPU-s under timed items",
        file=sys.stderr,
    )
    print(json.dumps(record.result_line(correct, attempted, failed, metrics, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
