"""The benchmark's workloads.

Each workload builds its state from the seed (`setup`), then runs units
(`units`), one iteration at a time: a batch round, or a drain of
micro-batch epochs. The run's first `warmup_units` units are its
warm-up; the metrics leave them out. Output checks run outside the timed
spans. With tracing on, iterations are traced in the order untraced,
traced, traced, untraced, ...; the traced units give the per-layer
numbers and the untraced ones the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import Observation
from pyspark.sql import functions as F

from . import checks

N_HOSTS = 24
HOT_SHARE = 0.4
SEED_STRIDE = 10_000_000  # seed URL ids start at (seed + 1) * SEED_STRIDE
TRANSPORT_SAMPLE = 400


@dataclass
class Unit:
    """One timed round or epoch; `wall` is None when it raised."""

    wall: float | None
    traced: bool
    warmup: bool = False
    urls: int = 0
    images: int = 0
    failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)


def dir_bytes_files(paths) -> tuple[int, int]:
    nbytes = nfiles = 0
    for p in paths:
        for base, _, names in os.walk(p):
            for n in names:
                if not n.startswith((".", "_")):
                    nbytes += os.path.getsize(os.path.join(base, n))
                    nfiles += 1
    return nbytes, nfiles


def seed_frontier(spark, lo: int, n: int, partitions: int):
    """Seed frontier rows for URL ids [lo, lo + n): the same universe as
    `datagen.seed_frontier_df` (24 hosts, 40% on the hot host h000), but
    over an id range chosen by the workload seed."""
    from oa_spider_spark.datagen import GLOBAL_SEED
    from oa_spider_spark.frontier.canon import with_url_columns
    from oa_spider_spark.frontier.round import FRONTIER_COLS

    def crc(col):
        return F.crc32(F.encode(col, "utf-8")).bitwiseXOR(F.lit(GLOBAL_SEED)).bitwiseAND(F.lit(0x7FFFFFFF))

    n_col = F.col("id")
    s = crc(F.concat(F.lit("seed:"), n_col.cast("string")))
    hidx = F.when(s % 1000 < int(HOT_SHARE * 1000), F.lit(0)).otherwise(
        (1 + s % (N_HOSTS - 1)).cast("int")
    )
    host = F.concat(F.lit("h"), F.lpad(hidx.cast("string"), 3, "0"), F.lit(".example.org"))
    kind = F.when(n_col % 3 == 0, F.lit("mail")).otherwise(F.lit("doc"))
    url = F.concat(F.lit("http://"), host, F.lit("/"), kind, F.lit("/"), n_col.cast("string"))
    us = crc(url)
    df = spark.range(lo, lo + n, 1, partitions).select(
        url.alias("url"), kind.alias("kind"),
        (us % 100).cast("int").alias("priority"),
        (F.lit(1_600_000_000_000) + us % 10_000_000).cast("long").alias("created_ms"),
        F.lit(0).alias("depth"), F.lit(0).alias("attempt"), F.lit(0).alias("round_added"),
    )
    return with_url_columns(df).select(*FRONTIER_COLS)


def noop_count(df) -> int:
    """Materialise every column of `df` to the noop sink; return its rows."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


class Workload:
    name = ""
    warmup_units = 1

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.state_s: list[float] = []
        self.lo = (bench.seed + 1) * SEED_STRIDE
        self.sample: pa.RecordBatch | None = None

    def setup(self) -> None:
        """Build the state the first timed unit needs."""

    def units(self, i: int, traced: bool) -> list[Unit]:
        raise NotImplementedError

    def finish(self, units: list[Unit]) -> None:
        """Checks run once after the timed units."""

    def run_layers(self) -> dict:
        """Per-layer numbers measured once per traced run."""
        return self.transport_layers() if self.sample is not None else {}

    # -- shared crawl helpers ----------------------------------------------

    def timed_state(self, fn):
        t0 = time.perf_counter()
        out = fn()
        self.state_s.append(time.perf_counter() - t0)
        return out

    def keep_sample(self, fetched) -> None:
        """Fixed sample of selected URLs, in URL order, for transport timing."""
        if self.sample is None:
            rows = fetched.select("url_canon", "attempt").orderBy("url_canon").limit(
                TRANSPORT_SAMPLE).collect()
            self.sample = pa.RecordBatch.from_pydict({
                "url_canon": pa.array([r[0] for r in rows], pa.string()),
                "attempt": pa.array([r[1] for r in rows], pa.int32()),
            })

    def transport_layers(self) -> dict:
        """One-core cost of the synthetic server (`datagen.fetch_url`) and of
        the Arrow packing around it (`synthetic_fetch_batch` minus it)."""
        from oa_spider_spark import datagen
        from oa_spider_spark.frontier.fetch import synthetic_fetch_batch

        urls = self.sample.column("url_canon").to_pylist()
        atts = self.sample.column("attempt").to_pylist()
        per_url, per_batch = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            for uc, a in zip(urls, atts):
                datagen.fetch_url(uc, attempt=a, n_hosts=N_HOSTS)
            t1 = time.perf_counter()
            synthetic_fetch_batch(self.sample, N_HOSTS)
            t2 = time.perf_counter()
            per_url.append(t1 - t0)
            per_batch.append(t2 - t1)
        n = len(urls)
        transport = min(per_url) * 1000 / n
        return {
            "transport.ms_per_url_core": transport,
            "fetch.arrow_ms_per_url_core": min(per_batch) * 1000 / n - transport,
        }

    def table_layers(self, parent: dict) -> dict:
        """Table writes, commits and seen-index calls under one round or
        epoch span."""
        tr = self.b.tracer
        stages = tr.children(parent, "stage")
        out = {
            f"tables.stage_s.{t}": sum(s["s"] for s in stages if s["tags"]["table"] == t)
            for t in ("frontier", "seen", "lineage")
        }
        out["tables.commit_s"] = sum(s["s"] for s in tr.children(parent, "commit"))
        paths = [s["path"] for s in tr.find("stage") if s.get("path")
                 and parent["start"] <= s["start"] <= parent["end"]]
        out["tables.bytes_written"], out["tables.files_written"] = dir_bytes_files(paths)
        reads = tr.children(parent, "seen.index_read")
        updates = tr.children(parent, "seen.index_update")
        out["seen.index_read_s"] = sum(s["s"] for s in reads)
        out["seen.index_update_s"] = sum(s["s"] for s in updates)
        return out


def select_layers(spark, catalog, budget: int, max_depth: int = 2) -> dict:
    """Selection re-composed from the round's own steps, dedup → seen →
    robots → budget/order, on the committed state the next round reads,
    with the Bloom index on as recrawl-indexed runs it.

    `select.s` materialises the whole composition once, uncached, as the
    round runs it. The per-step times come from cumulative prefixes, each
    cached and materialised in turn, so each step is timed as the work it
    adds to the prefix before it; with their cache writes they sum to more
    than `select.s`."""
    from oa_spider_spark.frontier.politeness import budget_and_order, robots_allowed
    from oa_spider_spark.frontier.round import dedup_frontier
    from oa_spider_spark.frontier.seen import anti_join_seen, mark_maybe_seen, read_bloom_index

    frontier = catalog.read(spark, "frontier")
    seen = catalog.read(spark, "seen")
    index = read_bloom_index(spark, catalog)
    n_seen = index[1].n_items if index is not None else catalog.cumulative_count("seen")
    steps = [
        lambda _: dedup_frontier(frontier).filter(F.col("depth") <= max_depth),
        lambda p: anti_join_seen(p, seen, use_bloom=True, index=index, est_seen=n_seen),
        lambda p: robots_allowed(p, None),
        lambda p: budget_and_order(p, budget),
    ]

    whole = None
    for step in steps:
        whole = step(whole)
    t0 = time.perf_counter()
    n_whole = noop_count(whole)
    select_s = time.perf_counter() - t0
    whole._ordered_cache.unpersist()  # before any prefix is cached

    prefixes, rows, took = [None], [], []
    for step in steps:
        p = step(prefixes[-1]).persist()
        t0 = time.perf_counter()
        rows.append(noop_count(p))
        took.append(time.perf_counter() - t0)
        prefixes.append(p)
    rows_in = frontier.count()
    out = {
        "select.dedup_s": took[0],
        "select.seen_s": took[1],
        "select.robots_s": took[2],
        "select.budget_s": took[3],
        "select.s": select_s,
        "select.rows_in": rows_in,
        "select.rows_dedup": rows[0],
        "select.rows_unseen": rows[2],
        "select.rows_selected": n_whole,
        "select.yield": n_whole / rows_in if rows_in else 0.0,
        "seen.maybe_share": 0.0,
    }
    if rows[3] != n_whole:
        raise RuntimeError(f"cached prefixes select {rows[3]} rows, the whole composition {n_whole}")
    if index is not None:
        shards, meta = index
        obs = Observation()
        mark_maybe_seen(prefixes[1], shards, meta.n_shards, meta.m_shard, meta.k).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum(F.col("maybe_seen").cast("long")).alias("maybe")
        ).write.format("noop").mode("overwrite").save()
        got = obs.get
        out["seen.maybe_share"] = (got["maybe"] or 0) / got["n"] if got["n"] else 0.0
        out["seen.index_mb"] = dir_bytes_files(catalog.snapshot_paths("bloom_shards")[-1:])[0] / 1e6
    for p in prefixes[1:]:
        p.unpersist()
    prefixes[-1]._ordered_cache.unpersist()
    return out


class RecrawlIndexed(Workload):
    """Consecutive rounds over a frontier that is 90% seen, with the Bloom
    index forced on and maintained every round; a per-host budget selects
    about 1% of the frontier."""

    name = "recrawl-indexed"
    n_frontier = 20_000
    budget = 10

    def setup(self) -> None:
        self.cat = self.timed_state(self.build)

    def build(self):
        """Commit the seen rows and their Bloom index, then the frontier."""
        from oa_spider_spark.frontier.round import seed_catalog
        from oa_spider_spark.frontier.seen import update_bloom_index
        from oa_spider_spark.tables import Catalog

        spark = self.spark
        cat = Catalog(self.b.scratch("state"))
        frontier = seed_frontier(spark, self.lo, self.n_frontier, 2 * self.b.cores)
        seen = frontier.filter(F.pmod(F.col("url_hash"), F.lit(10)) != 0).select(
            "url_hash", "url_canon", F.lit("ok").alias("status"), F.lit(-2).alias("round_seen"))
        obs = Observation()
        seen_path = cat.stage(seen.observe(obs, F.count(F.lit(1)).alias("n")), "seen", -2)
        n_seen = obs.get["n"]
        staged = {"seen": [seen_path]}
        staged.update(update_bloom_index(spark, cat, -2, [seen_path], delta_count=n_seen))
        cat.commit_round(-2, staged, counts={"seen": n_seen})
        seed_catalog(spark, cat, frontier)
        return cat

    def units(self, i: int, traced: bool) -> list[Unit]:
        from oa_spider_spark.frontier.round import run_round

        spark, tr, cat, rid = self.spark, self.b.tracer, self.cat, i
        layers = {}
        if traced:
            layers = select_layers(spark, cat, self.budget)
        tr.active = traced
        with tr.span("round", round=rid) as rec:
            t0 = time.perf_counter()
            res = run_round(
                spark, cat, rid, n_hosts=N_HOSTS, default_budget=self.budget,
                use_bloom=True, maintain_bloom=True, partitions=2 * self.b.cores,
            )
            wall = time.perf_counter() - t0
        tr.active = False
        unit = Unit(wall, traced, urls=res.selected, images=res.fetched_ok)
        unit.failures += checks.statuses_add_up(res.selected, res.fetched_ok, res.retried, res.failed)
        unit.failures += self.b.ledger.check(
            [res.selected, res.fetched_ok, res.retried, res.failed, res.new_links, res.bytes_fetched])
        if traced:
            if layers["select.rows_selected"] != res.selected:
                unit.failures.append(
                    f"traced selection {layers['select.rows_selected']} != round selected {res.selected}")
            fetch_span = [s for s in tr.children(rec, "stage") if s["tags"]["table"] == "fetched"][0]
            layers.update(self.table_layers(rec))
            layers["fetch.s"] = fetch_span["s"] - layers["select.s"]
            layers["fetch.ok_ratio"] = res.fetched_ok / res.selected if res.selected else 0.0
            layers["derived.new_links"] = res.new_links
            # task time and balance are read from the event log after the run
            layers.update(_fetch_span=fetch_span["id"], _selected=res.selected)
            self.keep_sample(checks.fetched_of(spark, cat, rid))
        unit.layers = layers
        return [unit]

    def finish(self, units: list[Unit]) -> None:
        """Checks that read the committed tables, once for all rounds."""
        fetched = self.cat.read(self.spark, "fetched")
        seen_hits = checks.seen_before(self.spark, self.cat, fetched)
        over = checks.over_budget(fetched, self.budget)
        for rid, unit in enumerate(units):
            if seen_hits.get(rid):
                unit.failures.append(f"{seen_hits[rid]} selected url_hash already seen before round {rid}")
            if over.get(rid):
                unit.failures.append(f"{over[rid]} hosts over the per-host budget {self.budget} in round {rid}")
        units[0].failures += checks.payloads_match(fetched)


class EpochLog(list):
    """`streaming_crawl`'s epoch log; while tracing, each entry also
    closes an `epoch` span over the epoch's wall time."""

    def __init__(self, tracer):
        super().__init__()
        self.tracer = tracer

    def append(self, rec) -> None:
        if self.tracer.active:
            end = time.time()
            self.tracer.add_span("epoch", end - rec["epoch_wall"], end, epoch=rec["epoch"])
        super().append(rec)


class StreamEpochs(Workload):
    """AvailableNow drains of a seed frontier written as several files,
    one file per trigger, so each drain runs several small epochs. The
    first four epochs of the first drain are the warm-up."""

    name = "stream-epochs"
    warmup_units = 4
    rows_per_file = 1_000
    n_files = 8
    budget = rows_per_file // 20

    def inputs(self, i: int) -> str:
        """A fresh drain directory whose `in/` holds iteration i's seed
        files, over an id range no other iteration uses."""
        n = self.n_files * self.rows_per_file
        base = self.b.scratch(f"u{i}")
        seed_frontier(self.spark, self.lo + i * n, n, self.n_files).write.parquet(
            os.path.join(base, "in"))
        return base

    def drain(self, base: str, epoch_log):
        from oa_spider_spark.streaming.rounds import streaming_crawl
        from oa_spider_spark.tables import Catalog

        cat = Catalog(os.path.join(base, "cat"))
        q = streaming_crawl(
            self.spark, cat, os.path.join(base, "in"), os.path.join(base, "ckpt"), n_hosts=N_HOSTS,
            default_budget=self.budget, epoch_log=epoch_log, max_files_per_trigger=1,
            partitions=2 * self.b.cores,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return cat

    def setup(self) -> None:
        self.next_in = self.timed_state(lambda: self.inputs(0))

    def units(self, i: int, traced: bool) -> list[Unit]:
        spark, tr = self.spark, self.b.tracer
        base = self.next_in if i == 0 else self.timed_state(lambda: self.inputs(i))
        log = EpochLog(tr)
        tr.active = traced
        cat = self.drain(base, log)
        tr.active = False
        fetched = cat.read(spark, "fetched")
        counts = {
            (r["round"], r["status"]): r["count"]
            for r in fetched.groupBy("round", "status").count().collect()
        }
        seen_hits = checks.seen_before(spark, cat, fetched)
        units = []
        for rec in log:
            rid = 10_000 + rec["epoch"]
            ok, retry, failed = (counts.get((rid, s), 0) for s in ("ok", "retry", "failed"))
            n = sum(v for (r, _), v in counts.items() if r == rid)
            unit = Unit(rec["epoch_wall"], traced, urls=n, images=ok)
            unit.failures += checks.statuses_add_up(n, ok, retry, failed)
            if seen_hits.get(rid):
                unit.failures.append(f"{seen_hits[rid]} selected url_hash already seen before epoch {rid}")
            if traced:
                unit.layers = self.epoch_layers(cat, rid, n, ok)
            units.append(unit)
        if traced:
            self.keep_sample(fetched)
        units[0].failures += checks.payloads_match(fetched)
        # the source takes files in modification-time order, which ties
        # between files written together, so a drain's epochs are compared
        # as a sorted list
        units[0].failures += self.b.ledger.check(sorted(
            [counts.get((10_000 + rec["epoch"], s), 0) for s in ("ok", "retry", "failed")]
            for rec in log))
        shutil.rmtree(base, ignore_errors=True)
        return units

    def epoch_layers(self, cat, rid: int, n: int, ok: int) -> dict:
        tr = self.b.tracer
        epoch = [s for s in tr.find("epoch") if 10_000 + s["tags"]["epoch"] == rid][-1]
        fetch_span = [s for s in tr.children(epoch, "stage") if s["tags"]["table"] == "fetched"][0]
        out = self.table_layers(epoch)
        frontier = cat.read(self.spark, "frontier", as_of_round=rid)
        out["derived.new_links"] = frontier.filter(F.col("round_added") == rid).count()
        out["fetch.s"] = fetch_span["s"]
        out["fetch.ok_ratio"] = ok / n if n else 0.0
        out["epoch.rows"] = n
        out["epoch.fixed_s"] = epoch["s"] - fetch_span["s"]
        out.update(_fetch_span=fetch_span["id"], _selected=n)
        return out


WORKLOADS = {w.name: w for w in (RecrawlIndexed, StreamEpochs)}
