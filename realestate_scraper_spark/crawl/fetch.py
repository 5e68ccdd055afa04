"""The fetch stage — S3/S4 (SURVEY.md §2.1) as a ``mapInPandas`` operator.

Replaces the reference's blocking, single-threaded HTTP client
(scrapper/core/http.py:11-78: RateLimiter.wait() before every GET,
Retry-After honoring on 429/503) with a partition-parallel batch stage:

- the frontier is hash-partitioned by ``domain_salt`` *before* this stage, so
  each task sees a small set of (domain, salt) groups and politeness is
  enforced locally with a per-domain token bucket. A domain's budget is
  divided by its salt-shard count, so the aggregate per-domain request rate
  equals the configured budget no matter how many executors run shards —
  exactly the reference's RPS governor, distributed;
- fetchers are pluggable (the reference's adapters take any object with
  ``.get/.head`` — scrapper/tests/test_otodom_selectors.py:47-56 exploits
  that for hermetic tests; we keep the same seam). ``SyntheticFetcher``
  serves the deterministic site graph from a broadcast page store;
- robots rules are applied *before* spending politeness budget
  (status=ROBOTS), Retry-After style failures surface as status=FAILED with a
  ``retry_at`` hint for re-enqueue (ST8);
- the politeness clock is virtual by default (recorded per row as
  ``fetched_at_ms``) so tests and benches audit the schedule without
  sleeping; ``real_sleep=True`` enforces it in wall-clock for live crawls;
- the clock is CONTINUOUS ACROSS ROUNDS (ST7): the engine seeds each round's
  buckets from the previous rounds' per-shard high-water marks
  (``start_offsets``), mirroring the reference's process-lifetime limiter
  (core/http.py:13-21) — a round boundary never resets a domain's budget.
"""

from __future__ import annotations

import re
import time
from collections.abc import Iterator
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# O9 alternate listing-URL spelling (morizon.py:631-635): the portal's
# primary template `morizon.pl/{category}/…` sometimes serves an empty shell;
# the reference then retries `morizon.pl/nieruchomosci/{category}/…`
# (morizon.py:672-679) before declaring no_links.
_ALT_LISTING_RE = re.compile(
    r"^(https?://www\.morizon\.pl)/(?!nieruchomosci(?:/|$))(.+)$"
)


def alt_listing_spelling(url: str) -> str | None:
    m = _ALT_LISTING_RE.match(url)
    return f"{m.group(1)}/nieruchomosci/{m.group(2)}" if m else None


FETCH_OK = "OK"
FETCH_ROBOTS = "ROBOTS"
FETCH_MISSING = "MISSING"
FETCH_TRANSIENT = "TRANSIENT"  # 429/503 + Retry-After; re-enqueued in-run (ST8)
FETCH_FAIL = "FAIL"  # hard failure (network/5xx) — terminal for this run (ST5)


def build_page_store(
    graph_rows: list[dict],
) -> dict[str, tuple[str, bool, int, bool, bool]]:
    """url_canon → (html, robots_allow, crawl_delay_ms, flaky, retry_after).

    Two synthetic failure modes mirror the reference's HTTP client
    (scrapper/core/http.py:51-76):

    - ``retry_after``: a 429/503 WITH a Retry-After header on the first
      attempt — the reference sleeps and retries in-run (http.py:69-76); the
      engine re-enqueues the row with ``retry_at`` and retries on a later
      round of the SAME run, no manual intervention (ST8).
    - ``flaky``: a hard failure on the first attempt (exhausts the in-run
      retry budget) — the reference surfaces it as fetch_fail and only the
      outer retry loop (cli.py:731-816) re-runs it; the engine mirror is
      ``retry_failed()`` (ST5)."""
    from realestate_scraper_spark.functions.urlnorm import canonicalize_url_py

    return {
        canonicalize_url_py(r["url"]): (
            r["html"],
            bool(r["robots_allow"]),
            int(r["crawl_delay_ms"]),
            bool(r.get("flaky", False)),
            bool(r.get("retry_after", False)),
            int(r.get("page_weight_kb", 0)),
        )
        for r in graph_rows
    }


def _make_fetch_core(
    page_store_bc,
    n_salts: int,
    real_sleep: bool = False,
    robots_rules_bc=None,
    start_offsets: dict[str, float] | None = None,
    t0_wall: float | None = None,
):
    """The per-row fetch closure of the fused stage (politeness token
    buckets, robots gating, synthetic failure modes, O9 alternate-spelling
    fallback). Returns ``fetch_row(url_canon, domain, salt, kind, attempts)
    → (html | None, fetch_status, fetched_at_ms)``."""
    from realestate_scraper_spark.functions.urlnorm import canonicalize_url_py

    # The broadcast HANDLES are captured; ``.value`` is dereferenced lazily
    # on first row, executor-side. Dereferencing on the driver would capture
    # the materialized page store in the closure, so every round's
    # mapInPandas would cloudpickle the whole corpus into the task binary;
    # with the handle, the task binary is KBs and workers read the store
    # from the broadcast block manager once.
    # holder dict, not nonlocal cells: cloudpickle does not keep closure
    # cells shared across separately-captured functions, a dict survives
    _state: dict = {}

    # representative page weight (synth.make_site_graph page_weight_kb):
    # expanded here, executor-side, so the broadcast store stays small
    _fillers: dict[int, str] = {}

    def _pad(html: str, kb: int) -> str:
        if not kb:
            return html
        if kb not in _fillers:
            unit = "lorem ipsum dolor sit amet consectetur "
            _fillers[kb] = "<p>" + unit * (kb * 1024 // len(unit)) + "</p>"
        return html + _fillers[kb]

    # Per-(domain,salt) virtual token bucket: next free slot in ms, seeded
    # from previous rounds' clocks. A bucket's budget is the domain delay ×
    # salt shards, so the domain-aggregate rate across all shards/tasks
    # matches the configured one.
    starts = start_offsets or {}
    next_free: dict[str, float] = {}
    t0 = t0_wall if t0_wall is not None else time.time()

    def _grant(key: str, eff_delay: float) -> float:
        """Consume one politeness slot; returns its virtual ms."""
        if key not in next_free:
            base = starts.get(key)
            next_free[key] = 0.0 if base is None else base + eff_delay
        at = max(next_free[key], 0.0)
        if real_sleep:
            now_ms = (time.time() - t0) * 1000.0
            if now_ms >= at:
                # we're late (driver overhead between rounds): anchor to
                # wall so the NEXT grant spaces from reality — a token
                # bucket with no burst accumulation, like the reference's
                # `delay - elapsed` wait (http.py:13-21)
                at = now_ms
            else:
                time.sleep((at - now_ms) / 1000.0)
        next_free[key] = at + eff_delay
        return at

    def fetch_row(url_canon, domain, salt, kind, attempts):
        if not _state:
            _state["store"] = page_store_bc.value
            _state["rules"] = (
                robots_rules_bc.value if robots_rules_bc is not None else None
            )
        store = _state["store"]
        rules = _state["rules"]
        if rules is not None:
            r = rules.get(domain)
            # canonicalize_url rstrips "/", so a root URL has no path
            # separator after the scheme — treat it as "/"
            sep = url_canon.find("/", 8)
            if r is not None and not r.allows(
                url_canon[sep:] if sep != -1 else "/"
            ):
                return None, FETCH_ROBOTS, -1.0
        rec = store.get(url_canon)
        if rec is None:
            return None, FETCH_MISSING, -1.0
        html, allow, delay_ms, flaky, retry_after, weight_kb = rec
        # a robots.txt Crawl-delay larger than the configured budget wins
        # (the polite maximum of the two; the reference has no robots
        # handling — north_rule addition)
        if rules is not None:
            r = rules.get(domain)
            if r is not None and r.crawl_delay_ms is not None:
                delay_ms = max(delay_ms, r.crawl_delay_ms)
        if not allow:
            return None, FETCH_ROBOTS, -1.0
        if (flaky or retry_after) and int(attempts) == 0:
            # failed request — budget IS spent (the request went out);
            # Retry-After style → TRANSIENT (in-run re-enqueue, ST8),
            # hard failure → FAIL (terminal this run, ST5)
            at = _grant(salt, delay_ms * n_salts)
            return None, (FETCH_TRANSIENT if retry_after else FETCH_FAIL), at
        # shard's share of the budget: delay × n_salts per shard
        at = _grant(salt, delay_ms * n_salts)
        # O9 (morizon.py:672-679): a listing page that fetched OK but
        # carries no links gets ONE retry under the alternate URL spelling
        # — a second real request, so a second politeness grant — before
        # the row goes back as a zero-yield page feeding the
        # no_links/no_new stop rules. The frontier row keeps the PRIMARY
        # url; only the content is served from the alternate (hrefs in
        # listing cards are path-absolute, so absolutization is
        # base-independent).
        if kind == "listing" and "<a href" not in html:
            alt = alt_listing_spelling(url_canon)
            alt_rec = store.get(canonicalize_url_py(alt)) if alt else None
            if alt_rec is not None and alt_rec[1]:
                html, _, _, _, _, weight_kb = alt_rec
                at = _grant(salt, delay_ms * n_salts)
        return _pad(html, weight_kb), FETCH_OK, at

    return fetch_row


# Fused fetch+parse output: one schema for BOTH row shapes —
#   row_kind='page': one row per fetched URL (fetch bookkeeping + the offer
#     parse cascade's raw fields when the page was an OK offer)
#   row_kind='link': one row per extracted link of an OK listing/investment
#     page (url/slot/kind = the PARENT's; dom_idx/href = the link)
# The page html NEVER leaves the python worker: it is built, parsed and
# dropped inside one closure, so the round caches only structured rows —
# no multi-GB Arrow transfer, no html in the storage layer (at 10^10-URL
# scale the raw-html column is the one thing you cannot afford to cache
# per round).
FUSED_FIELDS = (
    "row_kind string, url string, url_canon string, url_hash64 long, "
    "source string, domain string, domain_salt string, kind string, "
    "page_idx int, slot int, sub_slot int, attempts int, "
    "fetch_status string, fetched_at_ms double, "
    "dom_idx int, href string, "
    "parse_ok boolean, raw_price double, raw_currency string, "
    "raw_ppm2 double, raw_area double, raw_rooms int, raw_city string, "
    "raw_lat double, raw_lon double, "
    "photo_urls array<struct<url: string, w: int>>, "
    "raw_title string, raw_district string, raw_street string, "
    "raw_floor int, raw_floors int, raw_market string, raw_ptype string, "
    "raw_posted string, raw_updated string, raw_year int, "
    "raw_features array<string>"
)

_META_COLS = (
    "url", "url_canon", "url_hash64", "source", "domain", "domain_salt",
    "kind", "page_idx", "slot", "sub_slot", "attempts",
)


def fused_one_row(spark):
    """A 1-row DataFrame with the exact FUSED_FIELDS schema — the engine's
    warmup twin input. unionByName with the empty typed frame pins column
    order AND types (a bare selectExpr would drift on int widths), and one
    real row keeps AQE's empty-relation propagation from pruning the plan
    the warmup exists to compile."""
    empty = spark.createDataFrame([], FUSED_FIELDS)
    one = spark.range(1).selectExpr(
        "'page' as row_kind", "'u' as url", "'u' as url_canon",
        "cast(1 as long) as url_hash64", "'otodom' as source",
        "'d' as domain", "'d#0' as domain_salt", "'offer' as kind",
        "1 as page_idx", "0 as slot", "0 as sub_slot", "0 as attempts",
        f"'{FETCH_OK}' as fetch_status",
        "cast(0.0 as double) as fetched_at_ms", "0 as dom_idx",
        "'h' as href", "true as parse_ok",
        "cast(1.0 as double) as raw_price", "'PLN' as raw_currency",
        "cast(1.0 as double) as raw_ppm2", "cast(1.0 as double) as raw_area",
        "1 as raw_rooms", "'c' as raw_city",
        "cast(1.0 as double) as raw_lat", "cast(1.0 as double) as raw_lon",
        "array(named_struct('url', 'p', 'w', 1)) as photo_urls",
        "'t' as raw_title", "'d' as raw_district", "'s' as raw_street",
        "1 as raw_floor", "1 as raw_floors", "'primary' as raw_market",
        "'flat' as raw_ptype", "'2024-01-01' as raw_posted",
        "'2024-01-01' as raw_updated", "2000 as raw_year",
        "array('a') as raw_features",
    )
    return empty.unionByName(one)


def make_fetch_parse_stage(
    page_store_bc,
    n_salts: int,
    real_sleep: bool = False,
    robots_rules_bc=None,
    start_offsets: dict[str, float] | None = None,
    t0_wall: float | None = None,
    computes_acc=None,
):
    """The fetch stage: politeness-governed fetch + link extraction + offer
    parse cascade in ONE python pass per partition. The fetched html never
    leaves the pass — materializing it between stages would cost a cache
    round-trip of the whole page corpus every round.

    ``robots_rules_bc`` (optional): broadcast {domain → RobotsRules}; the
    robots decision runs in the same pass as the fetch, before any
    politeness budget is spent — blocked rows surface as FETCH_ROBOTS. This
    is the pre-request gate colocated with the request, exactly where the
    reference checks before GET (core/http.py:92-103).

    ``start_offsets`` (ST7 cross-round continuity): {domain_salt → last
    consumed virtual ms from PREVIOUS rounds}. A bucket's first grant this
    round starts at last + eff_delay, so the per-domain rate holds across
    the WHOLE RUN — the reference's limiter lives for the whole process
    (core/http.py:13-21), not per batch; a per-round clock would let short
    rounds exceed the configured RPS. ``t0_wall`` anchors virtual ms 0 to
    the run's wall start (epoch secs) so real_sleep targets are run-global,
    not round-local."""
    from realestate_scraper_spark.crawl import parse as parse_mod

    fetch_row = _make_fetch_core(
        page_store_bc, n_salts, real_sleep=real_sleep,
        robots_rules_bc=robots_rules_bc, start_offsets=start_offsets,
        t0_wall=t0_wall,
    )

    def fused_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one tick per PARTITION COMPUTE: a partition served from cache never
        # re-enters this generator, so the accumulator reads n_partitions iff
        # the round's racing consumers shared one compute (the multi-executor
        # duplicate-compute probe — see engine.is_single_jvm_master)
        if computes_acc is not None:
            computes_acc.add(1)
        for pdf in batches:
            # Page rows and link rows buffer SEPARATELY: a link row only
            # needs the seven fields the frontier path reads (parent url /
            # source / kind / page_idx / slot + dom_idx + href) — the other
            # meta strings (url_canon, domain, domain_salt, …) and all 21
            # raw parse columns are dead weight that at high card counts
            # dominated both the per-link Python appends and the Arrow
            # transfer back to the JVM. They're bulk-filled with nulls once
            # per batch instead of per link.
            meta: dict[str, list] = {c: [] for c in _META_COLS}
            st, at_ms = [], []
            raw: dict[str, list] = {k: [] for k in parse_mod.RAW_COL_NAMES}
            l_url, l_source, l_kind = [], [], []
            l_page, l_slot, l_dom, l_href = [], [], [], []

            for row in pdf.to_dict("records"):
                html, status, at = fetch_row(
                    row["url_canon"], row["domain"], row["domain_salt"],
                    row["kind"], row["attempts"],
                )
                # the page row (always)
                for c in _META_COLS:
                    meta[c].append(row[c])
                st.append(status)
                at_ms.append(at)
                if status == FETCH_OK and row["kind"] == "offer":
                    parse_mod.append_parsed_offer(raw, html)
                else:
                    # parse_ok=False, all raw fields null
                    parse_mod.append_parsed_offer(raw, None)
                # link rows (OK listing/investment pages)
                if (
                    status == FETCH_OK
                    and row["kind"] in ("listing", "investment")
                    and html is not None
                ):
                    for i, link in enumerate(
                        parse_mod._HREF_RE.findall(html)
                    ):
                        l_url.append(row["url"])
                        l_source.append(row["source"])
                        l_kind.append(row["kind"])
                        l_page.append(row["page_idx"])
                        l_slot.append(row["slot"])
                        l_dom.append(i)
                        l_href.append(link)

            n_p, n_l = len(st), len(l_href)
            none_l = [None] * n_l
            raw["parse_ok"].extend([False] * n_l)
            for k in parse_mod.RAW_COL_NAMES:
                if k != "parse_ok":
                    raw[k].extend(none_l)
            out = {
                "row_kind": pd.Series(
                    ["page"] * n_p + ["link"] * n_l, dtype="object"
                ),
                "url": pd.Series(meta["url"] + l_url, dtype="object"),
                "url_canon": pd.Series(
                    meta["url_canon"] + none_l, dtype="object"
                ),
                # nullable Int64: a float64 fallback would corrupt 64-bit
                # hashes
                "url_hash64": pd.Series(
                    meta["url_hash64"] + none_l, dtype="Int64"
                ),
                "source": pd.Series(meta["source"] + l_source, dtype="object"),
                "domain": pd.Series(meta["domain"] + none_l, dtype="object"),
                "domain_salt": pd.Series(
                    meta["domain_salt"] + none_l, dtype="object"
                ),
                "kind": pd.Series(meta["kind"] + l_kind, dtype="object"),
                "page_idx": pd.Series(meta["page_idx"] + l_page),
                "slot": pd.Series(meta["slot"] + l_slot),
                "sub_slot": pd.Series(
                    meta["sub_slot"] + none_l, dtype="Int32"
                ),
                "attempts": pd.Series(
                    meta["attempts"] + none_l, dtype="Int32"
                ),
                "fetch_status": pd.Series(
                    st + none_l, dtype="object"
                ),
                "fetched_at_ms": pd.Series(
                    at_ms + [float("nan")] * n_l, dtype="float64"
                ),
                "dom_idx": pd.Series(([None] * n_p) + l_dom, dtype="Int32"),
                "href": pd.Series(([None] * n_p) + l_href, dtype="object"),
                **parse_mod.raw_cols_to_series(raw),
            }
            yield pd.DataFrame(out)

    return fused_batches


def fetch_parse(
    frontier_batch: DataFrame,
    page_store_bc,
    n_salts: int,
    real_sleep: bool = False,
    robots_rules_bc=None,
    start_offsets: dict[str, float] | None = None,
    t0_wall: float | None = None,
    computes_acc=None,
) -> DataFrame:
    """Repartition by domain_salt (the one shuffle of the fetch path) and run
    the fused fetch+parse stage (see make_fetch_parse_stage).

    The partition COUNT is pinned: the rows entering this exchange are tiny
    (frontier keys — the heavy page content only exists inside the stage),
    so AQE's coalescePartitions would happily squash a bare
    repartition(col) to one partition and serialize the whole fetch+parse
    pipeline on a single core. A pinned count keeps the politeness property
    (each salt hashes to exactly one partition) AND the parallelism."""
    stage = make_fetch_parse_stage(
        page_store_bc, n_salts, real_sleep=real_sleep,
        robots_rules_bc=robots_rules_bc,
        start_offsets=start_offsets, t0_wall=t0_wall,
        computes_acc=computes_acc,
    )
    n_part = int(
        frontier_batch.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        frontier_batch.select(*_META_COLS)
        .repartition(n_part, F.col("domain_salt"))
        .mapInPandas(stage, schema=FUSED_FIELDS)
    )

