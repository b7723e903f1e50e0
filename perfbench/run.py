"""Crawl-engine benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload recrawl-indexed --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads, with their reasons, and the
metrics, with their units and directions, are declared in BENCHMARK.json:

* recrawl-indexed  consecutive rounds over a 90%-seen frontier with the
                   Bloom seen index on (selection- and index-bound)
* stream-epochs    AvailableNow drains, one input file per micro-batch
                   (fetch-bound, with a fixed cost per epoch)

The run starts Spark with half the host's CPUs as task slots, so that
the driver JVM, the Python driver and the garbage collector have CPUs of
their own. It builds the workload's state from the seed and runs the
workload's warm-up units (its first round, or its first four epochs),
because the first units of a fresh JVM run up to twice as slow as later
ones. `setup_s` is the time from process start until the first timed
unit is ready: Spark's start, the state build and the warm-up units.
Then timed units (rounds or epochs) run until they add up to `--seconds`
seconds and number at least three. `round_s.p50` is their median wall
time; `urls_per_s` and `images_per_s` divide their selected URLs and
fetched images by their summed wall time.
Every unit's outputs, the warm-up's too, are checked outside its timed
span; a unit that raises or fails a check counts in `failed`, so
error_rate = failed / attempted.

`--trace 0` reports the end-to-end metrics. `--trace 1` mixes untraced
and traced units and reports the per-layer metrics instead, from
spans recorded around the program's public calls (see trace.py);
per-layer metrics a workload does not exercise read 0. Spans are written
to .perfbench_work/spans/<workload>-seed<seed>.jsonl.

The line before the result carries the run's context: CPUs, task slots, JVM heap,
stage directory, host load (and `hostcap.capacity_probe` before
and after a traced run), round_s.n and error_rate. The last line is the
result: {"correct", "attempted", "failed", "metrics"}.

Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
JVM_HEAP = "2g"  # the host has 15 GB, shared; leave room for the workers
MIN_UNITS = 3  # timed units, after the warm-up

END_TO_END = {
    "setup_s": "s", "urls_per_s": "1/s", "images_per_s": "1/s", "round_s.p50": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order."""
    return {
        "setup.spark_s": "s", "setup.state_s": "s", "setup.warm_s": "s",
        "select.dedup_s": "s", "select.seen_s": "s", "select.robots_s": "s",
        "select.budget_s": "s", "select.s": "s",
        "select.rows_in": "count", "select.rows_dedup": "count",
        "select.rows_unseen": "count", "select.rows_selected": "count", "select.yield": "ratio",
        "seen.maybe_share": "ratio", "seen.index_read_s": "s", "seen.index_update_s": "s",
        "seen.index_mb": "MB",
        "fetch.s": "s", "fetch.task_s": "s", "transport.ms_per_url_core": "ms",
        "fetch.arrow_ms_per_url_core": "ms", "fetch.engine_ms_per_url_core": "ms",
        "fetch.pareff": "ratio", "fetch.skew": "ratio", "fetch.ok_ratio": "ratio",
        "tables.stage_s.frontier": "s", "tables.stage_s.seen": "s",
        "tables.stage_s.lineage": "s", "tables.commit_s": "s",
        "tables.bytes_written": "B", "tables.files_written": "count",
        "derived.new_links": "count",
        "epoch.n": "count", "epoch.rows_p50": "count", "epoch.fixed_s": "s",
        "trace.unit_s": "s", "trace.overhead": "ratio",
    }


class TreeMemory:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc as the sum of
    their proportional set sizes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree() -> set[int]:
        """This process and its descendants, less any child of the JVM that
        still runs the JVM's own image: a process the JVM is spawning shares
        the JVM's memory until it executes, and would count it twice."""
        parent, exe = {}, {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                    exe[int(d)] = os.readlink(f"/proc/{d}/exe")
                except (OSError, IndexError, ValueError):
                    continue
                parent[int(d)] = ppid
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            if not (exe[pid].endswith("/java") and exe[pid] == exe.get(ppid)):
                children.setdefault(ppid, []).append(pid)
        out, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            out.add(p)
            todo += children.get(p, [])
        return out

    @staticmethod
    def pss_kb(pid: int) -> int:
        """Proportional set size: pages shared between the forked Python
        workers are split between them, not counted once per worker."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = self.tree()
            self.pids |= pids
            self.peak_kb = max(self.peak_kb, sum(self.pss_kb(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_spark(cores: int, run_dir: Path, evdir: Path | None):
    from oa_spider_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a pre-touched, fixed-size heap keeps the JVM's share of peak RSS
        # constant, so peak_rss_mb moves with off-heap and worker memory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if evdir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        })
    return get_spark(cores=cores, app_name="perfbench", shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark, mem: TreeMemory) -> None:
    """Stop Spark and its JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    started = mem.pids - {os.getpid()}
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


class Bench:
    """What the workloads share: the session, tracer, seed and directories."""

    def __init__(self, spark, tracer, cores: int, seed: int, run_dir: Path, ledger):
        self.spark, self.tracer, self.cores, self.seed = spark, tracer, cores, seed
        self.run_dir, self.ledger = run_dir, ledger

    def scratch(self, tag: str) -> str:
        path = self.run_dir / "data" / tag
        if path.exists():
            shutil.rmtree(path)
        path.parent.mkdir(parents=True, exist_ok=True)
        return str(path)


def measure(wl, seconds: float, trace: bool) -> list:
    """Run iterations until the timed units (those after the workload's
    warm-up units) add up to `seconds` and number at least MIN_UNITS; a
    traced run also needs traced and untraced timed units."""
    from perfbench.workloads import Unit

    units, i, lost = [], 0, 0.0

    def done() -> bool:
        timed = [u for u in units if not u.warmup]
        kinds = {u.traced for u in timed}
        return (len(timed) >= MIN_UNITS and sum(u.wall or 0.0 for u in timed) + lost >= seconds
                and (not trace or kinds == {True, False}))

    while not done():
        traced = trace and i % 4 in (1, 2)  # untraced, traced, traced, untraced, ...
        t0 = time.perf_counter()
        try:
            got = wl.units(i, traced)
        except Exception as exc:  # a unit that raises is a failed unit
            wl.b.tracer.active = False
            print(f"unit {i} raised: {exc!r}"[:2000], file=sys.stderr)
            got = [Unit(None, traced, failures=[repr(exc)])]
            lost += time.perf_counter() - t0
        for u in got:
            u.warmup = len(units) < wl.warmup_units
            units.append(u)
        i += 1
    wl.finish(units)
    return units


def fill_task_stats(units, rows_by_span: dict, transport_ms: float | None) -> None:
    """Fetch-job task seconds, balance and engine cost per URL, from the
    event-log stages named after each traced fetch span."""
    for u in units:
        sid = u.layers.pop("_fetch_span", None)
        selected = u.layers.pop("_selected", 0)
        rows = rows_by_span.get(sid)
        if not rows:
            continue
        stage = max(rows, key=lambda r: r["stage"])  # the mapInArrow + write stage
        u.layers["fetch.task_s"] = stage["sum_ms"] / 1000
        u.layers["fetch.pareff"] = stage["pareff"]
        u.layers["fetch.skew"] = stage["skew"] or 0.0
        if selected and transport_ms is not None:
            u.layers["fetch.engine_ms_per_url_core"] = stage["sum_ms"] / selected - transport_ms


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    host_cpus = len(os.sched_getaffinity(0))
    cores = max(1, host_cpus // 2)
    run_dir = WORK / f"run-{os.getpid()}"
    for sub in ("tmp", "local", "events"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    context = {
        "workload": args.workload, "seed": args.seed, "host_cpus": host_cpus, "cores": cores,
        "jvm_heap": JVM_HEAP, "stage_dir": str(run_dir / "data"),
    }
    from oa_spider_spark.hostcap import capacity_probe

    if trace:
        context["capacity_probe_before"] = capacity_probe(host_cpus)

    from perfbench.checks import CountLedger
    from perfbench.trace import Tracer, patched, stage_rows_by_span

    try:
        with TreeMemory() as mem:
            spark = start_spark(cores, run_dir, run_dir / "events" if trace else None)
            spark_s = time.perf_counter() - T_START
            tracer = Tracer(spark, f"{args.workload}-seed{args.seed}-{os.getpid()}")
            ledger = CountLedger(str(WORK / "counts" / f"{args.workload}-seed{args.seed}.json"))
            bench = Bench(spark, tracer, cores, args.seed, run_dir, ledger)
            wl = WORKLOADS[args.workload](bench)
            wl.setup()
            if trace:
                with patched(tracer):
                    units = measure(wl, args.seconds, trace)
                run_layers = wl.run_layers()
            else:
                units = measure(wl, args.seconds, trace)
            ledger.save()
            app_id = spark.sparkContext.applicationId
            stop_spark(spark, mem)
        if trace:
            rows = stage_rows_by_span(str(run_dir / "events"), app_id, cores)
            fill_task_stats(units, rows, run_layers.get("transport.ms_per_url_core"))
            spans_dir = WORK / "spans"
            spans_dir.mkdir(parents=True, exist_ok=True)
            tracer.write(str(spans_dir / f"{args.workload}-seed{args.seed}.jsonl"))
            context["capacity_probe_after"] = capacity_probe(host_cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [u for u in units if u.wall is not None and not u.warmup]
    walls = [u.wall for u in timed]
    if not timed:
        print("perfbench: every unit raised; no result", file=sys.stderr)
        return 1
    attempted = len(units)
    failed = sum(1 for u in units if u.failures)
    state_s = statistics.median(wl.state_s)
    warm_s = sum(u.wall or 0.0 for u in units if u.warmup)
    summary = {
        "setup_s": spark_s + state_s + warm_s,
        "setup.warm_s": warm_s,
        "urls_per_s": sum(u.urls for u in timed) / sum(walls),
        "images_per_s": sum(u.images for u in timed) / sum(walls),
        "round_s.p50": statistics.median(walls),
        "round_s.n": len(walls),
        "round_s.all": walls,
        "peak_rss_mb": mem.peak_kb / 1024,
        "error_rate": failed / attempted,
    }
    for u in units:
        for msg in u.failures:
            print(f"check failed: {msg}"[:2000], file=sys.stderr)

    if trace:
        metrics = per_layer(wl, units, run_layers, spark_s, state_s, warm_s)
        metric_units = per_layer_units()
    else:
        metrics, metric_units = {k: summary[k] for k in END_TO_END}, END_TO_END
    context["summary"] = summary
    context["load_avg"] = os.getloadavg()
    print(json.dumps({"context": context}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": metric_units[k]} for k, v in metrics.items()
        },
    }
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(result))
    return 0


def per_layer(wl, units, run_layers: dict, spark_s: float, state_s: float, warm_s: float) -> dict:
    traced = [u for u in units if u.traced and u.wall is not None]
    plain = [u.wall for u in units if not (u.traced or u.warmup) and u.wall is not None]
    names = list(per_layer_units())
    values = dict.fromkeys(names, 0.0)
    keys = {k for u in traced for k in u.layers}
    for k in keys:
        values[k] = statistics.median(u.layers[k] for u in traced if k in u.layers)
    values.update(run_layers)
    values["setup.spark_s"] = spark_s
    values["setup.state_s"] = state_s
    values["setup.warm_s"] = warm_s
    if "epoch.rows" in keys:
        values.pop("epoch.rows")
        values["epoch.rows_p50"] = statistics.median(u.layers["epoch.rows"] for u in traced)
        values["epoch.n"] = len(traced)
    if traced:
        values["trace.unit_s"] = statistics.median(u.wall for u in traced)
        if plain:
            values["trace.overhead"] = values["trace.unit_s"] / statistics.median(plain) - 1
    return {k: values[k] for k in names}


if __name__ == "__main__":
    if not (ROOT / "oa_spider_spark" / "__init__.py").is_file():
        print(f"perfbench: no oa_spider_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
