"""Layer probes for the traced run: direct calls into one layer's public
functions, timed from outside the program.

In-process probes (parse, Bloom, cuckoo, image decode) run on every
workload, on inputs drawn from the workload's seed. Probes that need the
crawl's run dir (fetch_parse, anti-join, seen-store compaction) run only
after a crawl workload and read 0 elsewhere.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pandas as pd

import evlog
import workloads

PARSE_PAGES = 256
IMAGES = 256
FILTER_KEYS = 1 << 16      # the engine's default expected keys per shard
LOOKUP_KEYS = 1 << 18


def run_all(spark, res, seed: int) -> dict[str, float]:
    out = {k: 0.0 for k in evlog.UNITS}
    out.update(parse_probe(seed))
    out.update(filter_probes(seed))
    out.update(image_probe(seed))
    out["traced_wall_s"] = res.wall_s
    st = res.state
    if "query_s" in st:
        out.update({f"plans.{q}_s": v for q, v in st["query_s"].items()})
    if "engine" in st:
        eng = st["engine"]
        out.update(round_stats(st["run_dir"]))
        phases = st["phase_times"]
        out["crawl.engine.seed_s"] = st["legs"]["seed_s"]
        out["crawl.engine.resume_s"] = st["legs"]["resume_s"]
        out["crawl.engine.finalize_s"] = phases.get("run_finalize", 0.0)
        out["crawl.fetch.pages"] = float(st["pages"])
        out["crawl.refine.staged_rows"] = float(eng.t_staged.read(spark).count())
        out.update(crawl_spark_probes(spark, eng, st["killed"], st["graph"]))
    return out


def round_stats(run_dir: str) -> dict[str, float]:
    """Round count and per-round wall from the run dir's ``metrics`` table."""
    import pyarrow.parquet as pq

    walls: dict[int, float] = {}
    for f in glob.glob(os.path.join(run_dir, "metrics", "**", "*.parquet"),
                       recursive=True):
        t = pq.read_table(f, columns=["round", "stage", "wall_ms"]).to_pydict()
        for rnd, stage, ms in zip(t["round"], t["stage"], t["wall_ms"]):
            if stage == "discover":
                walls[rnd] = ms / 1000.0
    w = list(walls.values())
    return {
        "crawl.engine.rounds": float(len(w)),
        "crawl.engine.round_wall_s.p50": statistics.median(w) if w else 0.0,
        "crawl.engine.round_wall_s.max": max(w, default=0.0),
    }


def _pages(seed: int):
    """Offer and listing pages of the workload's crawl corpus, padded to its
    page weight the way the fetch stage pads them."""
    _offers, graph = workloads.crawl_corpus(seed)
    unit = "lorem ipsum dolor sit amet consectetur "
    filler = "<p>" + unit * (workloads.CRAWL["page_weight_kb"] * 1024 // len(unit)) + "</p>"
    offer_rows = [r for r in graph if r["kind"] == "offer"][:PARSE_PAGES]
    listing_rows = [r for r in graph if r["kind"] in ("listing", "investment")]
    return offer_rows, listing_rows, filler


def parse_probe(seed: int) -> dict[str, float]:
    """parse_offer_batches + extract_links_batches in this process, one
    core, no Spark: pages per second."""
    from realestate_scraper_spark.crawl.parse import (
        extract_links_batches,
        parse_offer_batches,
    )

    offer_rows, listing_rows, filler = _pages(seed)
    offers = pd.DataFrame({
        "url": [r["url"] for r in offer_rows],
        "url_canon": [r["url"] for r in offer_rows],
        "source": [r["source"] for r in offer_rows],
        "page_idx": [r["page_idx"] for r in offer_rows],
        "slot": 0, "sub_slot": 0,
        "html": [r["html"] + filler for r in offer_rows],
    })
    listings = pd.DataFrame({
        "source": [r["source"] for r in listing_rows],
        "page_idx": [r["page_idx"] for r in listing_rows],
        "url": [r["url"] for r in listing_rows],
        "slot": 0,
        "kind": [r["kind"] for r in listing_rows],
        "html": [r["html"] for r in listing_rows],
    })
    list(parse_offer_batches(iter([offers.head(8)])))
    t0 = time.perf_counter()
    n = sum(len(df) for df in parse_offer_batches(iter([offers])))
    list(extract_links_batches(iter([listings])))
    dt = time.perf_counter() - t0
    if n != len(offers):
        raise RuntimeError(f"parse probe: {n} rows for {len(offers)} pages")
    return {"crawl.parse.probe_pages_per_s": (len(offers) + len(listings)) / dt}


def filter_probes(seed: int) -> dict[str, float]:
    """One Bloom shard and one cuckoo filter loaded with the engine's default
    per-shard key count: false-positive share on held-out keys and lookup
    ns per key."""
    from realestate_scraper_spark.crawl.bloom import BloomShard, _params
    from realestate_scraper_spark.crawl.cuckoo import CuckooFilter

    rng = np.random.default_rng(seed)
    keys = rng.integers(-(1 << 62), 1 << 62, FILTER_KEYS, dtype=np.int64)
    held_out = rng.integers(-(1 << 62), 1 << 62, LOOKUP_KEYS, dtype=np.int64)
    held_out = held_out[~np.isin(held_out, keys)]
    out = {}
    bloom = BloomShard(*_params(FILTER_KEYS, 0.01))
    bloom.add_hashes(keys)
    cuckoo = CuckooFilter(FILTER_KEYS)
    if cuckoo.add_hashes(keys):
        raise RuntimeError("cuckoo probe filter overflowed")
    for name, filt in (("crawl.bloom", bloom), ("crawl.cuckoo", cuckoo)):
        if not filt.maybe_contains(keys).all():
            raise RuntimeError(f"{name} probe: false negative")
        t0 = time.perf_counter_ns()
        hits = filt.maybe_contains(held_out)
        dt = time.perf_counter_ns() - t0
        out[f"{name}.fp_ratio"] = float(hits.mean())
        out[f"{name}.probe_ns_per_key"] = dt / len(held_out)
    return out


def image_probe(seed: int) -> dict[str, float]:
    """decode_meta_batches on one pandas batch in this process, one core."""
    from realestate_scraper_spark.functions.images import decode_meta_batches
    from realestate_scraper_spark.sources.synth import image_blob

    blobs = [image_blob(seed, i, i % 4)[0] for i in range(IMAGES)]
    batch = pd.DataFrame({"image_id": [f"p{i}" for i in range(IMAGES)], "bytes": blobs})
    list(decode_meta_batches(iter([batch.head(8)])))
    t0 = time.perf_counter()
    got = next(decode_meta_batches(iter([batch])))
    dt = time.perf_counter() - t0
    if not got["decode_ok"].all():
        raise RuntimeError("image probe: decode failed")
    return {"functions.images.probe_images_per_s": IMAGES / dt}


def crawl_spark_probes(spark, eng, killed, graph) -> dict[str, float]:
    """fetch_parse over every page of the corpus; the frontier insert path
    (classify_and_key_links + anti_join_seen) over every link of those
    pages, against the run's seen store and the prefilter as it stood when
    the crawl was killed; one seen-store compaction.

    ``crawl.bloom.maybe_seen`` counts the probe's deduplicated candidates
    that prefilter flags maybe-seen: only those pay an exact join probe."""
    from pyspark.sql import functions as F

    from realestate_scraper_spark.crawl import fetch, frontier

    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "perfbench:probe")
    try:
        store_bc = sc.broadcast(fetch.build_page_store(graph))
        pages = [(r["source"], r["url"]) for r in graph if r["kind"] != "robots"]
        batch = frontier.seed_frontier(spark, pages, eng.n_salts).localCheckpoint()
        t0 = time.perf_counter()
        workloads._force(fetch.fetch_parse(batch, store_bc, eng.n_salts))
        fetch_s = time.perf_counter() - t0

        # link rows as the engine's round selects them from the fused output
        links = fetch.fetch_parse(batch, store_bc, eng.n_salts).filter(
            F.col("row_kind") == "link"
        ).select(
            "source", "page_idx", F.col("url").alias("parent_url"),
            F.col("slot").alias("parent_slot"), F.col("kind").alias("parent_kind"),
            "dom_idx", "href",
        ).localCheckpoint()
        t0 = time.perf_counter()
        cand = frontier.classify_and_key_links(
            links, eng.n_salts, dedup_partitions=eng.seen_store.n_buckets,
            bloom=killed.bloom,
        )
        workloads._force(frontier.anti_join_seen(cand, eng.seen_store.df(), killed.bloom))
        antijoin_s = time.perf_counter() - t0
        maybe_seen = cand.filter(F.col("maybe_seen")).count()

        t0 = time.perf_counter()
        eng.seen_store.compact()
        compact_s = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.job.description", None)
    return {
        "crawl.fetch.probe_pages_per_s": len(pages) / fetch_s,
        "crawl.frontier.probe_antijoin_s": antijoin_s,
        "crawl.bloom.maybe_seen": float(maybe_seen),
        "crawl.seenstore.probe_compact_s": compact_s,
    }
