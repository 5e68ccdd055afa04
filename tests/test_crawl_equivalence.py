"""North-rule gate: the Spark engine's URL-seen set and crawl ordering equal
the reference's under the identical seed list + politeness budget, plus field
equality of parsed offers vs the golden expectations.
"""

from __future__ import annotations

import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.sources.synth import build_corpus, seed_urls
from tests.reference_sim import simulate_reference_crawl

N_PAGES = 4
CARDS = 6


@pytest.fixture(scope="module")
def corpus():
    return build_corpus(seed=42, n_pages=N_PAGES, cards_per_page=CARDS)


@pytest.fixture(scope="module")
def engine_run(spark, corpus, tmp_path_factory):
    offers, images, graph = corpus
    run_dir = str(tmp_path_factory.mktemp("crawl_run"))
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=20)
    return eng, stats


def test_url_seen_set_equals_reference(engine_run, corpus):
    offers, _, graph = corpus
    eng, _ = engine_run
    yields, _, _ = simulate_reference_crawl(graph, seed_urls())
    ref_set = {y["url_canon"] for y in yields}
    got = {
        r["url_canon"]
        for r in eng.frontier().filter(F.col("kind") == "offer").collect()
    }
    assert got == ref_set


def test_crawl_order_equals_reference(engine_run, corpus):
    """After sorting by the recorded total-order key (page_idx, slot), the
    engine's per-source offer order equals the reference's sequential yield
    order (SURVEY.md §7.5 item 1)."""
    _, _, graph = corpus
    eng, _ = engine_run
    yields, _, _ = simulate_reference_crawl(graph, seed_urls())
    fr = (
        eng.frontier()
        .filter(F.col("kind") == "offer")
        .select("source", "url_canon", "page_idx", "slot", "sub_slot")
        .collect()
    )
    for src in {y["source"] for y in yields}:
        ref_order = [y["url_canon"] for y in yields if y["source"] == src]
        eng_order = [
            r["url_canon"]
            for r in sorted(
                (r for r in fr if r["source"] == src),
                key=lambda r: (r["page_idx"], r["slot"], r["sub_slot"]),
            )
        ]
        assert eng_order == ref_order, f"crawl order mismatch for {src}"


def test_offer_fields_equal_golden(engine_run, corpus):
    """Per-row field equality vs golden (input_hint: caption/field equality).
    Covers F17/F18 reconciliation, P2/P5 gates, inquiry-price nulling."""
    offers, _, graph = corpus
    eng, _ = engine_run
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}

    robots_blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    expected = {}
    for o in offers:
        g = o.golden_row()
        if g is not None and o.offer_id not in robots_blocked:
            expected[g["offer_id"]] = g

    assert set(got) == set(expected)
    for oid, exp in expected.items():
        row = got[oid]
        for k, v in exp.items():
            if isinstance(v, float):
                assert row[k] == pytest.approx(v, abs=1e-6), (oid, k, row[k], v)
            else:
                assert row[k] == v, (oid, k, row[k], v)


def test_rejections_quarantined_not_dropped(engine_run, corpus, spark):
    offers, _, _ = corpus
    eng, _ = engine_run
    q = {r["url"]: r["reject_reason"] for r in eng.quarantine().collect()}
    robots_blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    for o in offers:
        if o.offer_id in robots_blocked:
            continue
        if o.golden_row() is None:
            assert o.url in q, f"rejected offer {o.offer_id} missing from quarantine"
            # precedence mirrors the reference: pydantic raises (range)
            # BEFORE the completeness gate (detail.py:92 then :94)
            if not o.year_built_valid():
                assert q[o.url] == "range"
            elif o.inquiry_price:
                assert q[o.url] == "no_price"
            elif o.missing_geo or o.out_of_bbox:
                assert q[o.url] == "no_geo"


def test_photos_match_golden(engine_run, corpus, spark):
    """W1 gallery numbering + image-id linkage + srcset best-width pick."""
    offers, _, _ = corpus
    eng, _ = engine_run
    got = {}
    for r in eng.photos().collect():
        got.setdefault(r["offer_id"], []).append(r)
    robots_blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    checked = 0
    for o in offers:
        if o.offer_id in robots_blocked or not o.photo_urls:
            continue
        rows = sorted(got.get(o.offer_id, []), key=lambda r: r["seq"])
        assert [r["seq"] for r in rows] == list(range(len(o.photo_urls))), o.offer_id
        assert [r["image_id"] for r in rows] == o.photo_image_ids, o.offer_id
        # W4: the srcset best-variant width lands in the photos table for
        # css pages (synth srcset is 400w/800w/1200w → 1200); JSON variants
        # carry no width (validate.py:58-60 keeps it nullable)
        for r in rows:
            assert r["width"] == (1200 if o.variant == "css" else None), (
                o.offer_id, o.variant, r["width"],
            )
        checked += 1
    assert checked > 20


def test_images_join_photos(engine_run, corpus, spark):
    """photos ⨝ images by image_id — every linked image decodes and captions
    carry the owning offer's descriptor (caption equality, input_hint)."""
    from realestate_scraper_spark.schemas import IMAGES_SCHEMA

    offers, images, _ = corpus
    eng, _ = engine_run
    img_df = spark.createDataFrame(images, schema=IMAGES_SCHEMA)
    joined = eng.photos().join(img_df, "image_id", "inner")
    by_offer = {o.offer_id: o for o in offers}
    for r in joined.select("offer_id", "caption").collect():
        assert r["caption"] == by_offer[r["offer_id"]].caption()


def test_checkpoint_and_metrics_written(engine_run, spark):
    eng, stats = engine_run
    cp = {r["source"]: r.asDict() for r in eng.checkpoint_df().collect()}
    assert set(cp) == {"otodom", "morizon", "gratka", "trojmiasto"}
    for src, row in cp.items():
        assert row["done"], src
        assert row["last_page_done"] == N_PAGES, src
    m = eng.t_metrics.read(spark)
    assert m.filter(F.col("stage") == "fetch").count() > 0
    assert stats["pages_fetched"] > 0
    # every fetching round reports its offers in ONE row carrying the
    # round's real wall, and those rows account for every valid staged row
    rows = m.collect()
    fetch_rounds = {r["round"] for r in rows if r["stage"] == "fetch"}
    offer_rows = [r for r in rows if r["stage"] == "offers"]
    assert sorted(r["round"] for r in offer_rows) == sorted(fetch_rounds)
    assert all(r["wall_ms"] > 0 for r in offer_rows)
    assert sum(r["rows_out"] for r in offer_rows) == stats["offers_parsed"]
    assert stats["offers_parsed"] == eng.staged().filter("is_valid").count()
    # lineage manifests recorded per append
    assert len(eng.t_staged.lineage()) >= 1


@pytest.mark.parametrize("crash", [False, True], ids=["stop", "staged_fails"])
def test_kill_and_resume_equals_uninterrupted(
    spark, corpus, tmp_path_factory, engine_run, monkeypatch, crash
):
    """ST4: end the first engine — after 2 rounds, or by a crash when round
    3's staged-offers append raises — resume in a fresh engine; the final
    tables equal the uninterrupted run's. The crash is held until round 3's
    status updates are committed (bounded wait): an engine that marks the
    pages DONE before their offers land would lose those offers."""
    from realestate_scraper_spark.schemas import OFFER_COLUMNS

    _, _, graph = corpus
    run_dir = str(tmp_path_factory.mktemp("crawl_resume"))
    eng1 = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng1.seed(seed_urls())
    if not crash:
        eng1.run(max_rounds=2)
    else:
        write = eng1.t_staged.append_with_path

        def failing_write(df, *, round_idx, **kw):
            if round_idx != 3:
                return write(df, round_idx=round_idx, **kw)
            deadline = time.monotonic() + 3.0
            while time.monotonic() < deadline and not any(
                s["stage"] == "update" and s["round"] == 3
                for s in eng1.t_frontier.lineage()
            ):
                time.sleep(0.05)
            raise RuntimeError("injected staged-append failure")

        monkeypatch.setattr(eng1.t_staged, "append_with_path", failing_write)
        with pytest.raises(RuntimeError, match="injected"):
            eng1.run(max_rounds=20)

    eng2 = CrawlEngine.resume(spark, run_dir, graph, n_salts=2)
    eng2.run(max_rounds=20)

    base, _ = engine_run
    # a crash re-fetches round 3's pages with the pages discovered in it,
    # which may legitimately move first/last_seen_round
    cols = OFFER_COLUMNS if crash else base.offers().columns
    a = {tuple(r) for r in base.offers().select(*cols).collect()}
    b = {tuple(r) for r in eng2.offers().select(*cols).collect()}
    assert a == b
    assert Counter(map(tuple, base.photos().collect())) == Counter(
        map(tuple, eng2.photos().collect())
    )
    sa = {r[0] for r in base.seen_store.df().collect()}
    sb = {r[0] for r in eng2.seen_store.df().collect()}
    assert sa == sb
    fa = {r["url_canon"] for r in base.frontier().collect()}
    fb = {r["url_canon"] for r in eng2.frontier().collect()}
    assert fa == fb


def test_resume_preserves_fetch_fail_state(spark, tmp_path):
    """ADVICE r1: a resumed engine must restore the fetch_fail flag from the
    checkpoint — a drained-but-failed region must NOT flip to done/no_links
    on the resumed run's finalize; it completes only after retry_failed()."""
    from realestate_scraper_spark.sources.synth import (
        listing_url,
        make_offers,
        make_site_graph,
    )

    offers = make_offers(seed=42, n_pages=2, cards_per_page=5)
    graph = make_site_graph(offers, n_pages=2)
    broken = listing_url("morizon", 2)
    for row in graph:
        if row["url"] == broken:
            row["flaky"] = True

    run_dir = str(tmp_path / "rff")
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=8)
    cp = {r["source"]: r.asDict() for r in eng.checkpoint_df().collect()}
    assert cp["morizon"]["stop_reason"] == "fetch_fail"

    eng2 = CrawlEngine.resume(spark, run_dir, graph, n_salts=2)
    eng2.run(max_rounds=8)  # nothing pending — must not stamp done/no_links
    cp = {r["source"]: r.asDict() for r in eng2.checkpoint_df().collect()}
    assert cp["morizon"]["stop_reason"] == "fetch_fail"
    assert not cp["morizon"]["done"]

    eng2.retry_failed()
    eng2.run(max_rounds=8)
    cp = {r["source"]: r.asDict() for r in eng2.checkpoint_df().collect()}
    assert cp["morizon"]["done"]
    assert cp["morizon"]["last_page_done"] == 2


def test_missing_area_backsolved_not_quarantined(engine_run, corpus):
    """F18 `(ar is None)` branch (morizon.py:591-593): offers whose page
    shows price + ppm2 but NO area must back-solve area = price/ppm2 and
    pass the completeness gate — not land in quarantine as 'incomplete'."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.missing_area and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    for o in affected:
        row = got.get(o.offer_id)
        assert row is not None, f"{o.offer_id} quarantined despite back-solve"
        g = o.golden_row()
        assert row["area_m2"] == pytest.approx(g["area_m2"], abs=1e-6)
        # displayed ppm2 is KEPT, never recomputed from the corrected area
        assert row["price_per_m2"] == pytest.approx(g["price_per_m2"], abs=1e-6)


def test_missing_price_derived_from_ppm2_not_quarantined(engine_run, corpus):
    """F19 (otodom.py:158-165): offers whose page shows ppm2 + area but NO
    price must derive price = round(ppm2 × area) with currency PLN and pass
    the completeness gate — not land in quarantine as 'no_price'."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.price_missing and not o.inquiry_price
        and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    for o in affected:
        row = got.get(o.offer_id)
        assert row is not None, f"{o.offer_id} quarantined despite F19 fill-in"
        g = o.golden_row()
        assert row["price_amount"] == pytest.approx(g["price_amount"], abs=1e-9)
        assert row["price_amount"] == float(int(row["price_amount"]))  # whole PLN
        assert row["price_currency"] == "PLN"


def test_relative_hrefs_absolutized(engine_run, corpus):
    """F4 (core/http.py:113-114): every 3rd listing-card href is rendered
    path-relative; the frontier must still record the ABSOLUTE canonical URL
    (no scheme-less garbage rows, no lost offers)."""
    eng, _ = engine_run
    fr = eng.frontier()
    bad = fr.filter(~F.col("url").rlike(r"^https?://")).count()
    assert bad == 0, "relative hrefs leaked into the frontier unabsolutized"


def test_hydrated_bounds_centre_geo_fallback(engine_run, corpus):
    """F16 (morizon.py:115-138): css pages with ord%47==9 carry coordinates
    ONLY as hydrated map bounds; the parser must take the bbox centre."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.ordinal % 47 == 9 and o.variant == "css"
        and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    for o in affected:
        row = got.get(o.offer_id)
        assert row is not None, f"{o.offer_id} lost its bounds-only geo"
        assert row["lat"] == pytest.approx(o.lat, abs=1e-6)
        assert row["lon"] == pytest.approx(o.lon, abs=1e-6)


def test_city_slug_fallback_exercised(engine_run, corpus):
    """F8: css pages with ord%31==17 omit the address block; the engine must
    recover the city from the URL slug (guard that the case is non-vacuous
    and the fallback produces the exact city)."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.ordinal % 31 == 17 and o.variant == "css"
        and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r["city"] for r in eng.offers().collect()}
    for o in affected:
        assert got.get(o.offer_id) == o.city, (o.offer_id, got.get(o.offer_id))


def test_geo_snap_override_with_osm_dim(spark, tmp_path):
    """J8 _snap_geo_if_far (morizon.py:472-487): an engine given the OSM
    streetwise memo OVERRIDES wrong-but-in-bbox page geo (>800 m rule) with
    the dim's point; without the dim the page value stands — per-row golden
    equality in both modes, honest rows identical across them."""
    from realestate_scraper_spark.sources.synth import geocode_dim_rows

    offers, _, graph = build_corpus(seed=42, n_pages=3, cards_per_page=4)
    adversaries = [o for o in offers if o.geo_snap_wrong]
    assert adversaries, "corpus must contain snap adversaries"
    dim = spark.createDataFrame(
        geocode_dim_rows(offers),
        "city string, street string, dim_lat double, dim_lon double",
    )

    def run(run_dir, **kw):
        eng = CrawlEngine(spark, run_dir, graph, n_salts=2, **kw)
        eng.seed(seed_urls())
        eng.run(max_rounds=12)
        return {r["offer_id"]: r.asDict() for r in eng.offers().collect()}

    with_dim = run(str(tmp_path / "snap"), geocode_dim=dim)
    without = run(str(tmp_path / "nosnap"))

    for o in offers:
        if o.offer_id in with_dim and o.ordinal % 23 != 21:
            g_snap = o.golden_row(osm_snap=True)
            g_page = o.golden_row()
            for k in ("lat", "lon"):
                assert with_dim[o.offer_id][k] == pytest.approx(
                    g_snap[k], abs=1e-6
                ), (o.offer_id, k, "with dim")
                assert without[o.offer_id][k] == pytest.approx(
                    g_page[k], abs=1e-6
                ), (o.offer_id, k, "without dim")
    for o in adversaries:
        # the override actually moved the adversary (≈2.5 km apart)
        assert with_dim[o.offer_id]["lat"] != without[o.offer_id]["lat"]


def test_alt_listing_url_fallback(spark, tmp_path):
    """O9 (morizon.py:631-635,672-679): morizon pages whose primary template
    serves an empty shell recover through the /nieruchomosci/ alternate
    spelling — the region completes the full pagination instead of stopping
    no_new, and the URL-seen set still equals the reference simulator's
    (which mirrors the same fallback)."""
    from realestate_scraper_spark.sources.synth import (
        make_offers,
        make_site_graph,
    )

    offers = make_offers(seed=42, n_pages=4, cards_per_page=5)
    graph = make_site_graph(offers, n_pages=4, alt_listing_mod=2)
    run_dir = str(tmp_path / "alt")
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=20)

    yields, _, stop_reasons = simulate_reference_crawl(graph, seed_urls())
    ref_set = {y["url_canon"] for y in yields}
    got = {
        r["url_canon"]
        for r in eng.frontier().filter(F.col("kind") == "offer").collect()
    }
    assert got == ref_set
    # the fallback actually mattered: page-2/4 morizon offers were reachable
    # only through the alt spelling, and both crawls got them
    assert any(
        y["source"] == "morizon" and y["page_idx"] in (2, 4) for y in yields
    )
    assert any(
        o.source == "morizon"
        and o.page_idx in (2, 4)
        and o.url.replace("//", "//") in {y["url"] for y in yields}
        for o in offers
    )
    assert stop_reasons.get("morizon") != "no_new"


def test_q52_board_corpus_resume_equivalence(spark, tmp_path):
    """The q52 board row's flagship property the rows-only check can't see:
    on the EXACT board corpus and engine widths (plans/images_queries.q52 —
    1 listing page × 6 cards per portal, n_salts=2, append=1, 2 seen
    buckets), killing the crawl after round 1 and resuming yields offers
    VALUE-IDENTICAL to the uninterrupted run (ST4 + idempotent staging)."""
    _, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=6)
    widths = dict(
        n_salts=2, append_coalesce=1, seen_buckets=2, seen_compact_every=64
    )

    full = CrawlEngine(
        spark, str(tmp_path / "q52_full"), graph, **widths
    )
    full.seed(seed_urls())
    full.run(max_rounds=4)

    run_dir = str(tmp_path / "q52_killed")
    eng1 = CrawlEngine(spark, run_dir, graph, **widths)
    eng1.seed(seed_urls())
    eng1.run(max_rounds=1)  # killed mid-crawl after the first round
    eng2 = CrawlEngine.resume(spark, run_dir, graph, **widths)
    eng2.run(max_rounds=4)

    def rows(eng):
        return sorted(
            tuple(sorted(r.asDict().items())) for r in eng.offers().collect()
        )

    a, b = rows(full), rows(eng2)
    assert len(a) > 0
    assert a == b


def test_fused_stage_closure_stays_small(spark):
    """The fused fetch+parse closure must capture the page-store BROADCAST
    HANDLE, never its materialized value: a driver-side ``.value`` deref
    made every round's mapInPandas cloudpickle the whole corpus into the
    task binary (~2 s/round of core-invariant driver time at the fat depth
    cells). Pickle the stage against a deliberately bloated store and pin
    the closure size at handle scale."""
    import cloudpickle

    from realestate_scraper_spark.crawl.fetch import make_fetch_parse_stage

    big_store = {
        f"https://big.example/offer-{i}": ("x" * 10_000, True, 0, False, False, 0)
        for i in range(2_000)  # ~20 MB materialized
    }
    bc = spark.sparkContext.broadcast(big_store)
    try:
        stage = make_fetch_parse_stage(bc, n_salts=4)
        blob = cloudpickle.dumps(stage)
        assert len(blob) < 512_000, (
            f"fused stage closure pickled to {len(blob)} bytes — the page "
            "store is being captured by value again"
        )
    finally:
        bc.unpersist()


def test_every_crawl_job_is_phase_tagged(engine_run):
    """Observability contract: the full crawl lifecycle — seed's three
    bootstrap jobs, every per-round output job, and the three finalize
    legs — accounts its wall under a named phase, including jobs submitted
    from pool worker threads (where the main thread's thread-local
    ``spark.job.description`` is invisible; engine._tagged re-tags them).
    Event-log attribution (scripts/evlog_phases.py) relies on exactly this
    map; the r5/r6 inverse-scaling root causes were found through it."""
    eng, _ = engine_run
    got = set(eng.phase_times)
    required = {
        "seed_snapshot", "seed_seen", "seed_bootstrap",
        "fetch_plan", "fetch_summary", "links_plan", "updates_plan",
        "insert_append", "update_append", "seen_append", "insert_deltas",
        "staged_plan", "staged_append", "staged_join",
        "run_finalize", "finalize_metrics", "finalize_compact",
        "finalize_curated",
    }
    missing = required - got
    assert not missing, f"untagged crawl phases: {sorted(missing)}"
