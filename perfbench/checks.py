"""Output checks, run outside the timed window.

Each check returns failure messages (empty = passed) or, for the checks
that read a whole table once, violation counts per round. A unit that
raises or gets any failure counts as failed in `error_rate`.
"""

from __future__ import annotations

import json
import os
import zlib

from pyspark.sql import functions as F

PSNR_MIN_DB = 40.0
PAYLOAD_SAMPLE = 12


def fetched_of(spark, catalog, round_id: int):
    """Fetched rows committed by one round."""
    return catalog.read(spark, "fetched", as_of_round=round_id).filter(
        F.col("round") == round_id
    )


def statuses_add_up(selected: int, ok: int, retry: int, failed: int) -> list[str]:
    if ok + retry + failed != selected:
        return [f"ok {ok} + retry {retry} + failed {failed} != selected {selected}"]
    return []


def seen_before(spark, catalog, fetched) -> dict[int, int]:
    """Per round: fetched url_hashes that a round before it had already
    committed to the seen set (none should be)."""
    seen = catalog.read(spark, "seen")
    if seen is None:
        return {}
    rows = (
        fetched.select("url_hash", "round")
        .join(seen.select("url_hash", "round_seen"), "url_hash")
        .filter(F.col("round_seen") < F.col("round"))
        .groupBy("round").count().collect()
    )
    return {r["round"]: r["count"] for r in rows}


def over_budget(fetched, budget: int) -> dict[int, int]:
    """Per round: hosts that fetched more URLs than the per-host budget."""
    rows = (
        fetched.groupBy("round", "host").count().filter(F.col("count") > budget)
        .groupBy("round").count().collect()
    )
    return {r["round"]: r["count"] for r in rows}


def payloads_match(fetched) -> list[str]:
    """Sampled ok rows decode to >= 40 dB PSNR against the synthetic image
    of their URL, and carry its caption byte for byte."""
    from oa_spider_spark import datagen
    from oa_spider_spark.kernels.codec import decode_image, psnr

    rows = (
        fetched.filter(F.col("status") == "ok")
        .select("url_hash", "url_canon", "bytes", "caption")
        .orderBy("url_hash").limit(PAYLOAD_SAMPLE).collect()
    )
    if not rows:
        return ["no ok rows to sample"]
    bad = []
    for r in rows:
        s = (zlib.crc32(r["url_canon"].encode("utf-8")) ^ datagen.GLOBAL_SEED) & 0x7FFFFFFF
        db = psnr(decode_image(bytes(r["bytes"])), datagen.synth_image(s))
        if db < PSNR_MIN_DB:
            bad.append(f"{r['url_canon']}: PSNR {db:.1f} dB")
        if r["caption"] != datagen.synth_caption(s):
            bad.append(f"{r['url_canon']}: caption differs")
    return bad


class CountLedger:
    """Per-unit counts of one (workload, seed), kept across runs in the
    work directory: a repeat run must reproduce every count it shares."""

    def __init__(self, path: str):
        self.path = path
        self.prior = []
        if os.path.exists(path):
            with open(path) as fh:
                self.prior = json.load(fh)
        self.now: list = []

    def check(self, counts: list) -> list[str]:
        i = len(self.now)
        self.now.append(counts)
        if i < len(self.prior) and self.prior[i] != counts:
            return [f"unit {i} counts {counts} differ from an earlier run's {self.prior[i]}"]
        return []

    def save(self) -> None:
        if len(self.now) > len(self.prior):
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.now, fh)
            os.replace(tmp, self.path)
