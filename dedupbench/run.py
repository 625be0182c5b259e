#!/usr/bin/env python3
"""dupion_spark dedup benchmark.

    python3 dedupbench/run.py --workload img_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives one workload on
local[<usable cores>]: it generates the workload's fixture from --seed with
the program's own generators, sets up (session start, fixture open,
warm-up), then calls the program repeatedly for --seconds, forcing each
full result to the noop sink and checking it against the fixture's planted
truth. It prints one line per metric and, last, one JSON object.

--trace 0 reports the end-to-end metrics (medians over the timed calls).
--trace 1 makes one untraced and one traced call with the Spark event log
on, and reports the per-layer metrics; for img_cold it adds a checkpointed
base build and a rerun after an appended delta (the checkpoint layer), and
one call with the session pinned to one CPU by taskset, for the 1->N-core
scaling efficiency. Metric names and units come from BENCHMARK.json at the
repository root. Workloads, layers and the layer-to-end-to-end map are
described in LAYERS.md.

Exit status: 0 when every call passed the planted check, 1 when one did
not, 2 when the program is not there to benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# warm-up calls in the set-up, on a slice of the input. A second one made
# the timed call about 10% faster but cost more set-up than the run budget
# allows (LAYERS.md).
WARMUPS = 1
# a run stops starting new calls past this many seconds since process start
RUN_BUDGET_S = 150
# the traced run makes its 1-core call only when, at 3x the reference
# call's wall (1.8-2.6x was seen), it would end by this many seconds after
# process start; otherwise scaling.efficiency reads 0
ONE_CORE_END_S = 160
# printed next to the end-to-end metrics but not gated (LAYERS.md): across
# seeds shuffle_mb follows the image size of the planted mega-cluster (one
# random draw per seed) and peak_rss_mb follows the JVM's heap sizing, so
# both spread wider than the largest allowed bound
UNGATED = [("shuffle_mb", "MB"), ("peak_rss_mb", "MB")]


def load_spec() -> dict:
    """BENCHMARK.json: the metric names and units this benchmark reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_driver_memory() -> str:
    """A quarter of host RAM, between 1 and 8 GiB."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return f"{min(8, max(1, total_kb // (4 * 1024 * 1024)))}g"


class Session:
    """The benchmark's Spark session, sized to the host and confined to the
    work dir. `close` stops the JVM and waits for its whole process tree to
    end."""

    def __init__(self, workdir: str, trace: bool):
        self.cores = len(os.sched_getaffinity(0))
        self.event_dir = os.path.join(workdir, "eventlog")
        tmp = os.path.join(workdir, "tmp")
        local = os.path.join(workdir, "spark-local")
        for d in (tmp, local, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # everything Spark and its Python workers write stays in the work dir
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # no /tmp/hsperfdata_<user> file from the launcher or driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if o
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        self.conf = {
            "spark.driver.memory": host_driver_memory(),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # CC runs one job per round: keep every stage of a run in the store
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from pyspark import SparkContext

        from dupion_spark.session import get_spark

        self.spark = get_spark("dedupbench", cores=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, f"dedupbench {name}")

    def event_log(self) -> str:
        logs = [f for f in os.listdir(self.event_dir) if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log, found {logs}")
        return os.path.join(self.event_dir, logs[0])

    def close(self) -> None:
        from pyspark import SparkContext

        from dedupbench.rss import descendants

        if self.spark is None:
            return
        tree = descendants(self.jvm.pid)
        self.spark.stop()
        self.spark = None
        # the gateway JVM exits when its stdin closes
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        _wait_gone(tree)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _checked(wl, result, n_items: int) -> dict:
    from dedupbench import planted

    labels = wl.labels(result)
    check = planted.check(labels, wl.truth)
    check["ok"] = check["ok"] and len(labels) == n_items
    return check


def _setup(sess: Session, wl, warmups: int = WARMUPS) -> int:
    sess.group("setup")
    n_items = wl.open(sess.spark)
    for _ in range(warmups):
        wl.warm_up(sess.spark)
    return n_items


def timed_call(sess: Session, wl, group: str, n_items: int) -> dict:
    """One call into the program, timed until its full result is in the
    noop sink; metrics are read after the clock stops."""
    from dedupbench.rss import PeakRss
    from dedupbench.sparkmetrics import live_group_totals

    sess.group(group)
    # every call starts from a collected heap, so the peak below is the
    # call's own and not the garbage earlier calls left behind
    sess.spark.sparkContext._jvm.java.lang.System.gc()
    with PeakRss(sess.jvm.pid) as peak:
        t0 = time.perf_counter()
        result = wl.call(sess.spark)
        wall = time.perf_counter() - t0
    sess.group("check")
    check = _checked(wl, result, n_items)
    totals = live_group_totals(sess.spark, group)
    return {
        "wall_s": wall,
        "items_per_s": n_items / wall,
        "task_core_s": totals["task_s"],
        "shuffle_mb": totals["shuffle_write_mb"],
        "peak_rss_mb": peak.mb,
        "planted_recall": check["recall"],
        "planted_precision": check["precision"],
        "ok": check["ok"],
    }


def run_untraced(args, wl, workdir: str, t_start: float, spec: dict) -> dict:
    sess = Session(workdir, trace=False)
    try:
        t = time.time()
        sess.group("generate")
        wl.generate(sess.spark)
        gen_s = time.time() - t
        n_items = _setup(sess, wl)
        setup_s = time.time() - t_start - gen_s

        calls, raised = [], 0
        t_loop = time.perf_counter()
        while not calls or (
            time.perf_counter() - t_loop < args.seconds
            and time.time() - t_start < RUN_BUDGET_S
        ):
            try:
                calls.append(timed_call(sess, wl, f"e2e-{len(calls) + raised}", n_items))
            except Exception:  # the program raised: a failed call, keep measuring
                traceback.print_exc()
                raised += 1
                if raised > 3 and not calls:
                    break
    finally:
        sess.close()

    attempted = len(calls) + raised
    failed = raised + sum(1 for c in calls if not c["ok"])
    print(f"# {wl.name} seed={args.seed}: {n_items} {wl.unit_rows}, "
          f"fixture generation {gen_s:.2f} s, set-up {setup_s:.2f} s, "
          f"calls {[round(c['wall_s'], 2) for c in calls]} s")
    for key in ("task_core_s", "shuffle_mb", "peak_rss_mb"):
        print(f"#   {key} per call: {[round(c[key], 2) for c in calls]}")
    if not calls:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    metrics = {}
    for m in spec["end_to_end"]:
        name, unit = m["name"], m["unit"]
        if name == "setup_s":
            value = setup_s
        elif name.startswith("planted_"):
            value = min(c[name] for c in calls)  # the worst call counts
        else:
            value = statistics.median(c[name] for c in calls)
        metrics[name] = {"value": value, "unit": unit}
        n = 1 if name == "setup_s" else len(calls)
        print(f"{name:>18} {value:14.4f} {unit:<8} n={n}")
    print(f"{'fail_frac':>18} {failed / attempted:14.4f} {'ratio':<8} n={attempted}")
    for name, unit in UNGATED:
        value = statistics.median(c[name] for c in calls)
        print(f"{name:>18} {value:14.4f} {unit:<8} n={len(calls)} (not gated)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def run_traced(args, wl, workdir: str, t_start: float, spec: dict) -> dict:
    from dedupbench.sparkmetrics import EMPTY, UNATTRIBUTED, event_log_rollup
    from dedupbench.trace import Tracer
    from dedupbench.workloads import LAYERS

    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    sess = Session(workdir, trace=True)
    try:
        t = time.perf_counter()
        sess.group("generate")
        wl.generate(sess.spark)
        gen_s = time.perf_counter() - t
        n_items = _setup(sess, wl, wl.traced_warmups)
        wl.checkpoint_base(sess.spark)
        setup_s = time.perf_counter() - t - gen_s
        reference = timed_call(sess, wl, "e2e-0", n_items)
        tracer = Tracer(sess.spark, run_id)
        t0 = time.perf_counter()
        result = wl.traced_call(sess.spark, tracer)
        traced_wall = time.perf_counter() - t0
        sess.group("check")
        checks = [_checked(wl, result, n_items)]
        extras = wl.extras(result, tracer)
        sess.group("checkpoint")
        t = time.perf_counter()
        resumed = wl.checkpoint_rerun(sess.spark)
        rerun_s = time.perf_counter() - t
        if resumed:
            resume_result, resume_items, checkpoint = resumed
            sess.group("check")
            checks.append(_checked(wl, resume_result, resume_items))
            extras.update(checkpoint)
        single = None
        one_core_at = time.time() - t_start
        if wl.one_core and shutil.which("taskset"):
            if one_core_at + 3 * reference["wall_s"] < ONE_CORE_END_S:
                single = one_core_call(sess, wl, n_items)
            else:
                print(f"# 1-core call skipped: {one_core_at:.0f} s into the run")
    finally:
        sess.close()
    rollup, call_sites = event_log_rollup(sess.event_log())

    out: dict[str, float] = {}
    times = tracer.layer_times()
    covered = 0.0
    for layer in LAYERS:
        row = dict(EMPTY, wall_s=0.0, self_s=0.0, rows_out=0)
        if layer in wl.layers:
            row.update(rollup.get(layer, {}))
            row.update(times.get(layer, {}))
            row["rows_out"] = tracer.rows.get(wl.primary[layer], 0)
        covered += row["task_s"]
        out.update({f"{layer}.{key}": value for key, value in row.items()})
    out.update(extras)
    unattributed = rollup.get(UNATTRIBUTED, EMPTY)["task_s"]
    total = covered + unattributed
    out["trace.covered_share"] = covered / total if total else 0.0
    out["unattributed.task_s"] = unattributed
    # both calls run in this session, with the event log on
    out["trace.overhead_ratio"] = traced_wall / reference["wall_s"] - 1
    out["scaling.efficiency"] = (
        reference["items_per_s"] / (single["items_per_s"] * sess.cores) if single else 0.0
    )
    calls = [reference] + checks + ([single] if single else [])
    failed = sum(1 for c in calls if not c["ok"])
    print(f"# {wl.name} seed={args.seed} traced: {n_items} {wl.unit_rows}, "
          f"fixture generation {gen_s:.2f} s, set-up {setup_s:.2f} s, "
          f"untraced {reference['wall_s']:.2f} s, traced {traced_wall:.2f} s")
    if resumed:
        print(f"# checkpoint rerun over {resume_items} {wl.unit_rows}: {rerun_s:.2f} s, "
              f"planted check {'ok' if checks[-1]['ok'] else 'FAILED'}")
    if single:
        print(f"# 1-core call {single['wall_s']:.2f} s, from {one_core_at:.0f} s into "
              f"the run: 1->{sess.cores}-core scaling efficiency "
              f"{out['scaling.efficiency']:.3f}")
    # metrics no call of this workload produces read 0
    metrics = {m["name"]: {"value": out.get(m["name"], 0), "unit": m["unit"]}
               for m in spec["per_layer"]}
    for name, metric in metrics.items():
        print(f"{name:>30} {metric['value']:14.4f} {metric['unit']}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    report = os.path.join(HERE, "out", f"{wl.name}-seed{args.seed}-trace.json")
    with open(report, "w", encoding="utf-8") as fh:
        json.dump({"run_id": run_id, "spans": tracer.as_records(), "groups": rollup,
                   "call_sites": call_sites, "per_layer": out,
                   "untraced": reference, "traced_wall_s": traced_wall,
                   "one_core": single, "planted": checks}, fh, indent=1)
    print(f"# spans and per-group rollups written to {os.path.relpath(report, ROOT)}")
    return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
            "metrics": metrics}


def one_core_call(sess: Session, wl, n_items: int) -> dict:
    """One more call with the live session's whole process tree (driver,
    JVM, Python daemon and workers) pinned to one CPU with taskset."""
    from dedupbench.rss import descendants

    cpu = str(min(os.sched_getaffinity(0)))
    for pid in [os.getpid()] + descendants(sess.jvm.pid):
        subprocess.run(["taskset", "-a", "-p", "-c", cpu, str(pid)],
                       check=True, capture_output=True)
    return timed_call(sess, wl, "one-core", n_items)


def main() -> int:
    t_start = process_start_epoch()
    from dedupbench.workloads import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.seed < 0:
        parser.error("--seed must be >= 0")

    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        wl = WORKLOADS[args.workload](workdir, args.seed)
        runner = run_traced if args.trace else run_untraced
        result = runner(args, wl, workdir, t_start, load_spec())
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "dupion_spark")):
        print(f"dedupbench: no dupion_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.exit(main())
