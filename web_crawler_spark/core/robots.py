"""robots.txt gating model (FIXTURES.md §3).

The reference loads ``/robots.txt`` once per crawl via ``urllib.robotparser``
(``Crawler/crawler.py:104-111``) and gates every URL with ``can_fetch``
fail-open on errors (``crawler.py:134-140``). Here rules are a small relational
table — ``(host, user_agent, rule, path_prefix, parse_error)`` — evaluated with
robotparser's longest-prefix-match semantics by a pure function shared by the
oracle and the broadcast-rules pandas UDF.

Missing host or parse_error ⇒ allow-all (the reference's failure-to-load
behavior). Longest matching prefix wins; on equal length, allow wins (RFC 9309).
Empty-prefix Disallow matches nothing (robotparser treats ``Disallow:`` as
allow-all).
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import urlparse

from .hashing import stable_hash64, unit_float


@dataclass(frozen=True)
class RobotsRule:
    host: str
    user_agent: str  # '*' or an exact UA token
    rule: str  # 'allow' | 'disallow'
    path_prefix: str
    parse_error: bool = False


RulesByHost = dict[str, list[RobotsRule]]


def rules_by_host(rules: list[RobotsRule]) -> RulesByHost:
    out: RulesByHost = {}
    for r in rules:
        out.setdefault(r.host, []).append(r)
    return out


def allowed(url: str, user_agent: str, rules: RulesByHost) -> bool:
    p = urlparse(url)
    host_rules = rules.get(p.netloc)
    if not host_rules:
        return True  # no robots.txt for host → allow (crawler.py:110-111)
    if any(r.parse_error for r in host_rules):
        return True  # unreadable robots.txt → fail-open (crawler.py:140)
    # agent group selection: exact UA rules if any exist, else '*'
    exact = [r for r in host_rules if r.user_agent == user_agent]
    group = exact if exact else [r for r in host_rules if r.user_agent == "*"]
    path = p.path or "/"
    best_len = -1
    best_allow = True
    for r in group:
        if not r.path_prefix:
            continue
        if path.startswith(r.path_prefix):
            plen = len(r.path_prefix)
            is_allow = r.rule == "allow"
            if plen > best_len or (plen == best_len and is_allow):
                best_len = plen
                best_allow = is_allow
    return best_allow if best_len >= 0 else True


def generate_rules(cfg) -> list[RobotsRule]:
    """Deterministic robots fixture for a WebConfig: about half the hosts
    disallow a band of their page space; one host has a parse error (fail-open);
    one host disallows everything for a specific UA only."""
    rules: list[RobotsRule] = []
    for hi, host in enumerate(cfg.hosts):
        r = unit_float(cfg.seed, "robots", host)
        if r < 0.1:
            rules.append(RobotsRule(host, "*", "disallow", "/", parse_error=True))
        elif r < 0.5:
            # disallow one decile of /p/<i> by first digit, allow-carveout inside
            digit = stable_hash64(cfg.seed, "rdig", host) % 10
            rules.append(RobotsRule(host, "*", "disallow", f"/p/{digit}"))
            if unit_float(cfg.seed, "rcarve", host) < 0.5:
                rules.append(RobotsRule(host, "*", "allow", f"/p/{digit}0"))
        if r > 0.9:
            rules.append(RobotsRule(host, "EvilBot/1.0", "disallow", "/"))
    return rules
