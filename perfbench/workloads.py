"""The benchmark's workloads: inputs from the seed, the timed operations and
the output checks.

Each workload function takes a ``Run`` (session, scratch dir, seed, run
length) and returns a ``Result``: end-to-end timings, the operation counts
and whatever the traced run needs to attribute the wall to layers.
Checks run outside the timed windows; a wrong output or a crash counts as
a failed operation. A crash in set-up (session, inputs, image staging)
ends the run without a result.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

# Crawl corpus: 4 portals x 1 listing page x 64 cards, offer pages padded to
# 48 KB, strict pagination (lookahead 0): three rounds (listings, offers and
# investment pages, investment children); the first leg stops after one and
# the second resumes from the run dir.
CRAWL = {"n_pages": 1, "cards_per_page": 64, "page_weight_kb": 48,
         "lookahead": 0, "leg1_rounds": 1}
# Query suite scale and the image table: ~2k synthetic photos.
ANALYTICS = {"sf": 0.01, "image_pages": 4, "image_cards": 60}

HEADLINE = [
    "q01_pricing_summary",
    "q02_coverage_join",
    "q05_photo_seq_window",
    "q06_topk_per_group",
    "q07_state_replay",
    "q23_spatial_dup_join",
    "q26_sessionize",
    "q30_dedup_exact",
    "q31_minhash_signatures",
    "q32_minhash_band_pairs",
    "q34_simhash",
    "q39_ann_brute_topk",
    "q40_ann_lsh_buckets",
    "q41_embedding_near_dup",
]
# the analytics operations: each query and the image decode pass
OPS = HEADLINE + ["decode"]


@dataclass
class Run:
    start: Callable  # starts the Spark session (workloads call session())
    tmp: str
    seed: int
    seconds: int
    spark: object = None

    def session(self):
        self.spark = self.start()
        return self.spark


@dataclass
class Result:
    setup_s: float = 0.0
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    # wall-clock (epoch s) bounds of the timed operations, for the trace
    window: tuple = (0.0, 0.0)
    # handles the traced run's probes read after the workload
    state: dict = field(default_factory=dict)


def _tag(spark, name: str | None) -> None:
    """Job description for jobs this thread submits outside any engine
    phase; the event-log reducer maps it to a layer."""
    spark.sparkContext.setLocalProperty("spark.job.description", name)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ crawl
def crawl_corpus(seed: int):
    from realestate_scraper_spark.sources.synth import make_offers, make_site_graph

    offers = make_offers(seed=seed, n_pages=CRAWL["n_pages"],
                         cards_per_page=CRAWL["cards_per_page"])
    graph = make_site_graph(offers, n_pages=CRAWL["n_pages"],
                            page_weight_kb=CRAWL["page_weight_kb"])
    return offers, graph


def crawl_op(spark, run_dir: str, graph: list[dict]) -> dict:
    """seed() + run(max_rounds=leg1_rounds), then CrawlEngine.resume() on
    the same run dir in a fresh engine, then run() to completion. The
    first leg's engine is kept as ``killed``: its prefilter is the state
    the resume started from."""
    from realestate_scraper_spark.crawl.engine import CrawlEngine
    from realestate_scraper_spark.sources.synth import seed_urls

    la = CRAWL["lookahead"]
    legs: dict[str, float] = {}
    t0 = time.monotonic()
    try:
        _tag(spark, "perfbench:crawl")
        eng = CrawlEngine(spark, run_dir, graph, lookahead=la)
        eng.seed(seed_urls())
        legs["seed_s"] = time.monotonic() - t0
        s1 = eng.run(max_rounds=CRAWL["leg1_rounds"])
        phases = dict(eng.phase_times)
        killed = eng
        _tag(spark, "perfbench:resume")
        t1 = time.monotonic()
        eng = CrawlEngine.resume(spark, run_dir, graph, lookahead=la)
        legs["resume_s"] = time.monotonic() - t1
        _tag(spark, "perfbench:crawl")
        s2 = eng.run()
        legs["wall_s"] = time.monotonic() - t0
    finally:
        _tag(spark, None)
    for k, v in eng.phase_times.items():
        phases[k] = phases.get(k, 0.0) + v
    return {"engine": eng, "killed": killed, "legs": legs, "phase_times": phases,
            "pages": s1["pages_fetched"] + s2["pages_fetched"],
            "rounds": s1["rounds"] + s2["rounds"],
            "offers_parsed": s1["offers_parsed"] + s2["offers_parsed"]}


def crawl_resume(run: Run, t_process: float) -> Result:
    """The crawl operation on the workload corpus, measured cold: it is the
    process's first crawl, as for every crawl launched on its own."""
    spark = run.session()
    res = Result()
    offers, graph = crawl_corpus(run.seed)
    res.setup_s = time.monotonic() - t_process

    run_dir = os.path.join(run.tmp, "crawl")
    res.attempted = 3
    w0 = time.time()
    t0 = time.monotonic()
    try:
        op = crawl_op(spark, run_dir, graph)
    except Exception as e:  # a crashed leg fails the crawl's three operations
        res.window = (w0, time.time())
        res.wall_s = time.monotonic() - t0
        res.failed = 3
        res.errors.append(f"crawl: {e!r}"[:500])
        return res
    res.window = (w0, time.time())
    res.wall_s = op["legs"]["wall_s"]
    res.detail = {
        "crawl_wall_s": res.wall_s,
        "crawl_pages_per_s": op["pages"] / res.wall_s,
        "resume_s": op["legs"]["resume_s"],
        "pages_fetched": op["pages"],
        "rounds": op["rounds"],
        "offers_parsed": op["offers_parsed"],
    }
    try:
        errs = check_crawl(op["engine"], offers, graph)
    except Exception as e:
        errs = [f"crawl check: {e!r}"[:500]]
    if errs:
        res.failed += 1
        res.errors += errs
    res.state = {**op, "offers": offers, "graph": graph, "run_dir": run_dir}
    return res


def check_crawl(eng, offers, graph) -> list[str]:
    """Offers equal SynthOffer.golden_row() for every offer robots.txt does
    not block; the frontier's offer URLs and the seen store equal the
    corpus's canonical URLs."""
    from pyspark.sql import functions as F

    from realestate_scraper_spark.functions.urlnorm import canonicalize_url_py

    errs = []
    blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    want = {}
    for o in offers:
        g = o.golden_row()
        if g is not None and o.offer_id not in blocked:
            want[g["offer_id"]] = g
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    if set(got) != set(want):
        errs.append(f"offer ids: {len(set(got) ^ set(want))} differ")
    for oid in set(got) & set(want):
        for k, v in want[oid].items():
            g = got[oid][k]
            ok = abs(g - v) <= 1e-6 if isinstance(v, float) and g is not None else g == v
            if not ok:
                errs.append(f"offer {oid}.{k}: {g!r} != {v!r}")
                break
    want_offer_urls = {canonicalize_url_py(o.url) for o in offers}
    got_offer_urls = {
        r[0] for r in eng.frontier().filter(F.col("kind") == "offer")
        .select("url_canon").collect()
    }
    if got_offer_urls != want_offer_urls:
        errs.append(f"frontier offer urls: {len(got_offer_urls ^ want_offer_urls)} differ")
    want_seen = {canonicalize_url_py(r["url"]) for r in graph if r["kind"] != "robots"}
    got_seen = {r[0] for r in eng.seen_store.df().collect()}
    if got_seen != want_seen:
        errs.append(f"seen set: {len(got_seen ^ want_seen)} differ")
    return errs[:10]


# -------------------------------------------------------------- analytics
def analytics(run: Run, t_process: float) -> Result:
    """The 14 headline queries through the noop sink plus the image decode
    stage; one untimed pass, checked against DuckDB and the synth spec,
    precedes the timed passes, which repeat until the run length is spent."""
    from realestate_scraper_spark.functions.images import (
        IMAGE_META_FIELDS,
        decode_meta_batches,
    )
    from realestate_scraper_spark.plans import relational, trainingdata
    from realestate_scraper_spark.session import local_df
    from realestate_scraper_spark.sources.synth import (
        SYNTH_IMAGE_FIELDS,
        image_spec_rows,
        make_offers,
        synth_image_batches,
    )

    import datagen

    res = Result()
    marks = []
    sf_dir = os.path.join(run.tmp, "tables")
    datagen.write_analytics_tables(sf_dir, run.seed, ANALYTICS["sf"])
    offers = make_offers(seed=run.seed, n_pages=ANALYTICS["image_pages"],
                         cards_per_page=ANALYTICS["image_cards"])
    specs = image_spec_rows(offers, seed=run.seed)
    marks.append(("generate", time.monotonic()))
    registry = {**relational.REGISTRY, **trainingdata.REGISTRY}
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        # the DuckDB oracles need only the parquet files: they run while the
        # JVM starts
        oracles = pool.submit(oracle_results, registry, sf_dir)
        spark = run.session()
        marks.append(("session", time.monotonic()))
        cores = spark.sparkContext.defaultParallelism
        img_path = os.path.join(run.tmp, "images")
        _tag(spark, "perfbench:stage_images")
        local_df(spark, specs, "image_id string, seed long, ordinal long, k long",
                 n_partitions=cores).repartition(cores).mapInPandas(
            synth_image_batches, schema=SYNTH_IMAGE_FIELDS
        ).write.parquet(img_path)
        img_df = spark.read.parquet(img_path).repartition(cores)
        marks.append(("stage_images", time.monotonic()))

        def decode_df():
            return img_df.select("image_id", "bytes").mapInPandas(
                decode_meta_batches, schema=IMAGE_META_FIELDS)

        def suite_pass(tag: str) -> tuple[dict, dict]:
            """Wall of each operation, and why those that crashed did."""
            walls, crashed = {}, {}
            for name in OPS:
                _tag(spark, f"perfbench:{tag}:{name}")
                t0 = time.monotonic()
                _, err = _attempt(lambda: _force(
                    decode_df() if name == "decode"
                    else registry[name][0](spark, sf_dir)))
                walls[name] = time.monotonic() - t0
                if err:
                    crashed[name] = err
            _tag(spark, None)
            return walls, crashed

        # first-use pass: every query and the decoder once, collected for
        # the checks
        got, crash = {}, {}
        for name in HEADLINE:
            _tag(spark, f"perfbench:check:{name}")
            got[name], crash[name] = _attempt(
                lambda: registry[name][0](spark, sf_dir).toPandas())
        _tag(spark, "perfbench:check:decode")
        decoded, crash["decode"] = _attempt(lambda: decode_df().toPandas())
        _tag(spark, None)
        marks.append(("first_pass", time.monotonic()))
        res.setup_s = time.monotonic() - t_process
        want = oracles.result()
    finally:
        pool.shutdown()
    bad = {}  # operation -> why its output is wrong
    for name in HEADLINE:
        err = crash[name] or _mismatch(got[name], want[name])
        if err:
            bad[name] = err
    err = crash["decode"] or check_images(decoded, specs, img_path, run.seed)
    if err:
        bad["decode"] = err

    passes = []
    n_images = len(specs)
    w0 = time.time()
    t_end = time.monotonic() + run.seconds
    while not passes or time.monotonic() < t_end:
        passes.append(suite_pass("query"))
    res.window = (w0, time.time())
    # a timed operation fails if it crashes or its checked run was wrong
    res.failed = len(bad) + sum(len(set(bad) | set(c)) for _, c in passes)
    for _, crashed in passes:
        for name, err in crashed.items():
            bad.setdefault(name, err)
    res.errors += [f"{name}: {err}" for name, err in bad.items()]
    res.attempted = len(OPS) * (1 + len(passes))
    suite = [sum(w[n] for n in HEADLINE) for w, _ in passes]
    decs = [w["decode"] for w, _ in passes]
    res.wall_s = statistics.median([s + d for s, d in zip(suite, decs)])
    res.detail = {
        "query_suite_s": statistics.median(suite),
        "images_per_s": n_images / statistics.median(decs),
        "n_images": n_images,
        "passes": len(passes),
        "setup_parts_s": {name: t - prev for (_, prev), (name, t)
                          in zip([("", t_process)] + marks, marks)},
    }
    res.state = {
        "query_s": {n: statistics.median(w[n] for w, _ in passes) for n in HEADLINE},
        "img_path": img_path,
        "n_images": n_images,
    }
    return res


def _attempt(fn):
    """(fn(), None), or (None, the exception) if fn raised."""
    try:
        return fn(), None
    except Exception as e:
        return None, f"crashed: {e!r}"[:500]


def _root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _duck_compare():
    import sys

    tests = os.path.join(_root(), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import duck_compare

    return duck_compare


def oracle_results(registry, sf_dir: str) -> dict:
    """Each query's DuckDB oracle result (tests/duck_compare.run_oracle)."""
    dc = _duck_compare()
    return {name: dc.run_oracle(registry[name][1], sf_dir) for name in HEADLINE}


def _mismatch(got, want) -> str | None:
    """tests/duck_compare's strict comparison, on collected results."""
    dc = _duck_compare()
    gc, gr = dc.to_multiset(got)
    wc, wr = dc.to_multiset(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row {a} != {b}"
    return None


def check_images(decoded, specs, img_path: str, seed: int) -> str | None:
    """Decoded w, h and fmt equal the synth spec for every image; sha256
    equals the staged bytes' digest; every 32nd staged blob is re-synthesized
    from its spec and must be byte-identical."""
    import numpy as np
    import pyarrow.parquet as pq

    from realestate_scraper_spark.sources.synth import FMTS, IMG_SIZES, image_blob

    staged = pq.read_table(img_path).to_pydict()
    blobs = dict(zip(staged["image_id"], staged["bytes"]))
    rows = {r.image_id: r for r in decoded.itertuples(index=False)}
    if len(rows) != len(specs) or set(blobs) != set(rows):
        return f"{len(rows)} decoded rows for {len(specs)} specs"
    for i, (image_id, s, ordinal, k) in enumerate(specs):
        r = rows[image_id]
        rng = np.random.default_rng((s, ordinal, k))
        w, h = IMG_SIZES[int(rng.integers(len(IMG_SIZES)))]
        fmt = FMTS[(ordinal + k) % len(FMTS)]
        if not r.decode_ok or (r.w, r.h, r.fmt) != (w, h, fmt):
            return f"{image_id}: {(r.w, r.h, r.fmt)} != {(w, h, fmt)}"
        if r.sha256 != hashlib.sha256(blobs[image_id]).hexdigest():
            return f"{image_id}: sha256 differs from the staged bytes"
        if i % 32 == 0 and image_blob(seed, ordinal, k)[0] != blobs[image_id]:
            return f"{image_id}: staged bytes differ from the spec"
    return None


WORKLOADS = {"crawl_resume": crawl_resume, "analytics": analytics}
