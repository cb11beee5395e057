"""Single-process crawl simulator: the order/seen-set oracle.

Replays the reference's scheduling semantics (priority lane first,
FIFO-within-lane, bounded per-host in-flight — dispatcher/dispatcher.py:18-55,
worker/worker.py:94-104) under the engine's deterministic total order and the
same politeness token bucket, wave by wave.  The Spark engine must produce
the identical per-wave dequeue log and final URL-seen set
(``BASELINE.json.metric``); tests/test_wave_engine.py asserts equality.

Pure Python, no Spark — small-scale only.
"""

from __future__ import annotations

from .oracle import extract as X
from .oracle import urlspec as U
from .operators.frontier import (STATUS_ERROR, STATUS_FOUND, STATUS_NOT_FOUND,
                                 STATUS_PENDING)


class SimFrontierEntry:
    __slots__ = ("url", "host", "company", "seed_id", "keyword", "depth",
                 "score", "priority", "status", "attempts", "enqueue_wave")

    def __init__(self, url, host, company, seed_id, keyword, depth, score,
                 priority, enqueue_wave):
        self.url = url
        self.host = host
        self.company = company
        self.seed_id = seed_id
        self.keyword = keyword
        self.depth = depth
        self.score = score
        self.priority = priority
        self.status = STATUS_PENDING
        self.attempts = 0
        self.enqueue_wave = enqueue_wave


def order_key(e: SimFrontierEntry):
    return (-e.priority, e.depth, -e.score, e.enqueue_wave, e.url)


class Simulator:
    def __init__(self, pages: dict, seeds: list[dict], robots: dict,
                 per_host_k: int = 4, max_waves: int = 64,
                 max_attempts: int = 3):
        self.pages = pages
        self.robots = robots  # host -> (disallow list, crawl_delay)
        self.per_host_k = per_host_k
        self.max_waves = max_waves
        self.max_attempts = max_attempts
        self.frontier: dict[str, SimFrontierEntry] = {}
        self.tokens: dict[str, float] = {}
        self.order_log: list[tuple] = []
        self.extracted: dict[str, str] = {}
        self.dedup_hits = 0
        for s in seeds:
            e = SimFrontierEntry(s["seed_url"], s["host"], None, s["seed_id"],
                                 s["keyword"], 0, U.SCORE_LISTING,
                                 s["priority"], 0)
            self.frontier[e.url] = e
        for host in {s["host"] for s in seeds} | set(robots):
            self.tokens[host] = float(per_host_k)

    def _grant(self, host: str) -> int:
        return int(self.tokens.get(host, float(self.per_host_k)))

    def _refill(self, host: str) -> float:
        delay = self.robots.get(host, ([], 1.0))[1]
        return self.per_host_k / max(delay, 1.0)

    def _robots_allowed(self, host: str, url: str) -> bool:
        disallow = self.robots.get(host, ([], 1.0))[0]
        path = url.split("://", 1)[-1]
        path = path[path.find("/"):]
        return not any(path.startswith(p) for p in disallow)

    def run(self):
        for wave in range(1, self.max_waves + 1):
            pending = [e for e in self.frontier.values()
                       if e.status < 2 and e.attempts < self.max_attempts]
            if not pending:
                break
            # per-host top-K by the deterministic total order
            by_host: dict[str, list[SimFrontierEntry]] = {}
            for e in pending:
                by_host.setdefault(e.host, []).append(e)
            claimed: list[SimFrontierEntry] = []
            used: dict[str, int] = {}
            for host, entries in by_host.items():
                k = self._grant(host)
                if k <= 0:
                    continue
                entries.sort(key=order_key)
                take = entries[:k]
                claimed.extend(take)
                used[host] = len(take)
            claimed.sort(key=order_key)

            blocked_hosts = set()
            discovered: list[SimFrontierEntry] = []
            for e in claimed:
                self.order_log.append((wave, e.url))
                e.attempts += 1
                content = self.pages.get(e.url)
                if content is None:
                    e.status = STATUS_ERROR
                    continue
                if X.BLOCK_MARKER in content or X.INVALID_LINK_MARKER in content:
                    e.status = STATUS_ERROR
                    blocked_hosts.add(e.host)
                    continue
                self.extracted[e.url] = U.extract_url_text(e.url, content)
                kind, _ = U.classify(e.url)
                e.status = STATUS_FOUND
                if kind == "listing":
                    r = X.parse_listing(content)
                    if r is None:
                        e.status = STATUS_ERROR
                    elif r == "not_found":
                        e.status = STATUS_NOT_FOUND
                for rel, score in U.discover_links(e.url, content):
                    absolute = U.canonicalize(rel, e.host)
                    company = absolute if kind == "listing" else e.company
                    host = absolute.split("://", 1)[-1].split("/", 1)[0]
                    if not self._robots_allowed(host, absolute):
                        continue
                    if absolute in self.frontier:
                        self.dedup_hits += 1
                        continue
                    ne = SimFrontierEntry(absolute, host, company, e.seed_id,
                                          e.keyword, e.depth + 1, score,
                                          e.priority, wave)
                    discovered.append(ne)
            # in-wave duplicate discovery: deterministic winner, matching the
            # engine's max-struct rule (operators/parse.py dedup_candidates)
            discovered.sort(key=lambda n: (n.url, -n.priority, n.depth,
                                           -n.score, n.seed_id))
            for ne in discovered:
                if ne.url not in self.frontier:
                    self.frontier[ne.url] = ne
                else:
                    self.dedup_hits += 1
            # token bucket: spend + refill + block cool-down
            for host in self.tokens:
                self.tokens[host] = min(
                    float(self.per_host_k),
                    self.tokens[host] - used.get(host, 0) + self._refill(host))
            for host in set(self.frontier[u].host for u in self.frontier):
                if host not in self.tokens:
                    self.tokens[host] = float(self.per_host_k)
            for host in blocked_hosts:
                self.tokens[host] = 0.0

    # -- oracle outputs ------------------------------------------------------

    def seen_urls(self) -> list[str]:
        return sorted(self.frontier)

    def crawl_order(self) -> list[tuple]:
        return list(self.order_log)

    def statuses(self) -> dict[str, int]:
        return {u: e.status for u, e in self.frontier.items()}

    def finalize_exact_matches(self):
        """Upgrade seed listings to status 5 where the assembled company
        name equals the keyword (worker/worker.py:237-242)."""
        infos = self.assemble_all()
        matched_seeds = set()
        for e in self.frontier.values():
            if e.url in infos and e.company == e.url:
                name = infos[e.url]["business"]["base"].get("name")
                if name == e.keyword:
                    matched_seeds.add(e.seed_id)
        for e in self.frontier.values():
            if e.depth == 0 and e.seed_id in matched_seeds:
                e.status = 5

    def assemble_all(self) -> dict[str, dict]:
        """company main_url (absolute) -> InfoV2 for every found company."""
        out = {}
        for e in self.frontier.values():
            kind, _ = U.classify(e.url)
            if kind != "main" or e.status != STATUS_FOUND:
                continue
            host = e.host
            _, path, q = U.split_url(e.url)
            rel = path + ("?" + q if q else "")

            def fetch(u, host=host):
                return self.pages.get(U.canonicalize(u, host))

            info = X.assemble_company(rel, fetch)
            if info is not None:
                out[e.url] = info
        return out
