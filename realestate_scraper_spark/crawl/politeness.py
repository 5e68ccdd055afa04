"""Politeness: robots.txt rules + per-domain crawl budgets (ST7/ST8, O11).

The reference's politeness is a single blocking rate limiter
(scrapper/core/http.py:11-21, RATE_LIMIT_RPS=0.3 at config.py:10) and no
robots handling at all. The engine upgrades this to the north_rule shape:

- **robots.txt rules**: parsed per domain into (allow, prefix) rules with
  longest-prefix-match semantics (the de-facto standard), plus an optional
  ``Crawl-delay``. Rules are tiny → broadcast once per engine; the fetch
  stage (crawl/fetch.py) evaluates ``RobotsRules.allows`` per row before it
  spends any politeness budget — no extra plan stage, no shuffle.
- **crawl-delay token buckets**: per-domain virtual-time buckets enforced
  inside the fetch stage (crawl/fetch.py). The frontier is partitioned by
  ``domain_salt``; a domain's configured delay is multiplied by its shard
  count so the aggregate cross-shard rate equals the configured budget no
  matter how many executors hold shards.

Both knobs together are "the politeness budget" that the crawl-equivalence
check holds identical between the reference simulator and the engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class RobotsRules:
    """Parsed robots.txt for one domain (User-agent: * section)."""

    domain: str
    disallow: list[str] = field(default_factory=list)
    allow: list[str] = field(default_factory=list)
    crawl_delay_ms: int | None = None

    def allows(self, path: str) -> bool:
        """Longest-match wins; empty Disallow matches nothing; default allow."""
        best_len, best_allow = -1, True
        for p in self.disallow:
            if p and path.startswith(p) and len(p) > best_len:
                best_len, best_allow = len(p), False
        for p in self.allow:
            if p and path.startswith(p) and len(p) >= best_len:
                best_len, best_allow = len(p), True
        return best_allow


def parse_robots_txt(domain: str, text: str) -> RobotsRules:
    """Minimal robots.txt parser: the ``User-agent: *`` group's Allow /
    Disallow / Crawl-delay lines (comments and other agents ignored)."""
    rules = RobotsRules(domain=domain)
    active = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            active = value == "*"
        elif active and key == "disallow":
            if value:
                rules.disallow.append(value)
        elif active and key == "allow":
            if value:
                rules.allow.append(value)
        elif active and key == "crawl-delay":
            try:
                rules.crawl_delay_ms = int(float(value) * 1000)
            except ValueError:
                pass
    return rules
