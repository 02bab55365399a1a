"""Seeded HTTP-traffic documents, the BFL filters the benchmark sends,
and the oracle that says what the daemon must answer.

Everything here is pure Python and independent of ``basenine_spark``:
each filter carries its own Python predicate, so the oracle never asks
the program under test what the right answer is.
"""

from __future__ import annotations

import json
import random
import sys
from dataclasses import dataclass
from typing import Callable, Optional

REDACTED = "[REDACTED]"
ID_WIDTH = 24

# Zipf-ranked endpoint templates; "{n}" becomes a seeded number
ENDPOINTS = [
    "/api/v2/orders/{n}",
    "/api/v1/users/{n}",
    "/api/v2/catalog/items",
    "/health",
    "/api/v2/orders",
    "/static/app.js",
    "/api/v1/users/{n}/sessions",
    "/api/v2/cart/{n}",
    "/api/v2/catalog/items/{n}",
    "/api/v1/search",
    "/api/v2/orders/{n}/items",
    "/api/v1/auth/token",
    "/metrics",
    "/api/v2/payments/{n}",
    "/api/v1/users/{n}/avatar",
    "/static/style.css",
]
METHODS = ["GET"] * 11 + ["POST"] * 5 + ["PUT", "PUT", "DELETE", "PATCH"]
SERVICES = ["web", "checkout", "mobile", "batch", "partner"]
UPSTREAMS = ["orders", "users", "catalog", "payments", "search"]
HOSTS = ["api.shop.example", "api.shop.example", "m.shop.example", "partner.shop.example"]
AGENTS = ["Mozilla/5.0 (X11; Linux x86_64)", "okhttp/4.12.0", "curl/8.5.0", "Go-http-client/2.0"]
CONTENT_TYPES = ["application/json", "text/html; charset=utf-8", "application/javascript", "text/css"]
STATUS_OK = [200] * 30 + [201, 204, 301, 304, 400, 401, 403, 404, 404, 404, 409, 429]
STATUS_5XX = [500, 502, 503, 504]
SHARE_5XX = 0.08
# every NEW_HEADER_EVERY-th doc introduces a brand-new header key: the
# schema width at a given doc count is the same for every seed, because
# the daemon's scans slow down in a step once the width passes ~100
# fields (seeds that crossed it at random made /fetch 40% slower)
NEW_HEADER_EVERY = 500
EXTRA_HEADER_P = 0.35  # chance a doc carries one pooled extra header


def index_to_id(i: int) -> str:
    return "%0*d" % (ID_WIDTH, i)


class DocGen:
    """Deterministic stream of ~540-byte traffic entries.  ``bk`` is the
    generator's doc key (the n-th doc this generator made); ``ts`` is an
    event timestamp in epoch-ms that grows with ``bk``.  The extra-header
    pool keeps growing, so the daemon keeps merging new schema columns."""

    def __init__(self, seed: int, ts0: int = 1_700_000_000_000):
        self.rnd = random.Random(seed)
        self.n = 0
        self.ts0 = ts0
        self.header_pool: list[str] = []
        weights = [1.0 / (r + 1) ** 1.1 for r in range(len(ENDPOINTS))]
        total = sum(weights)
        acc, self._cum = 0.0, []
        for w in weights:
            acc += w / total
            self._cum.append(acc)

    def _endpoint(self) -> str:
        u = self.rnd.random()
        for tmpl, c in zip(ENDPOINTS, self._cum):
            if u <= c:
                break
        return tmpl.replace("{n}", str(self.rnd.randint(1, 5000)))

    def _extra_header(self, bk: int) -> Optional[str]:
        r = self.rnd
        if bk % NEW_HEADER_EVERY == 0:
            self.header_pool.append("X-Ext-%d" % len(self.header_pool))
            return self.header_pool[-1]
        if r.random() < EXTRA_HEADER_P:
            # Zipf-ish reuse: older keys are the popular ones
            k = int(len(self.header_pool) * r.random() ** 3)
            return self.header_pool[k]
        return None

    def doc(self) -> dict:
        r = self.rnd
        bk = self.n
        self.n += 1
        req_headers = {
            "Host": r.choice(HOSTS),
            "User-Agent": r.choice(AGENTS),
            "Accept": "application/json",
            "X-Request-Id": "%016x" % r.getrandbits(64),
        }
        if r.random() < 0.5:
            req_headers["Authorization"] = "Bearer %032x" % r.getrandbits(128)
        extra = self._extra_header(bk)
        if extra is not None:
            req_headers[extra] = "v%d" % r.randint(0, 999)
        status = r.choice(STATUS_5XX) if r.random() < SHARE_5XX else r.choice(STATUS_OK)
        return {
            "bk": bk,
            "ts": self.ts0 + bk * 7 + r.randint(0, 6),
            "src": {
                "ip": "10.%d.%d.%d" % (r.randint(0, 3), r.randint(0, 255), r.randint(1, 254)),
                "port": r.randint(1024, 65535),
                "name": r.choice(SERVICES),
            },
            "dst": {
                "ip": "172.16.0.%d" % r.randint(1, 40),
                "port": r.choice([80, 443, 443, 8080]),
                "name": r.choice(UPSTREAMS),
            },
            "request": {
                "method": r.choice(METHODS),
                "path": self._endpoint(),
                "headers": req_headers,
                "body_bytes": r.randint(0, 4096),
            },
            "response": {
                "status": status,
                "headers": {
                    "Content-Type": r.choice(CONTENT_TYPES),
                    "Server": "nginx/1.25",
                    "Cache-Control": r.choice(["no-store", "max-age=60", "private"]),
                },
                "body_bytes": r.randint(0, 12000),
                "elapsed_ms": round(r.uniform(0.2, 400.0), 1),
            },
        }


def dumps(doc: dict) -> str:
    return json.dumps(doc, separators=(",", ":"))


# -- filters: BFL text + the generator's own predicate ----------------


@dataclass(frozen=True)
class Filter:
    name: str
    bfl: str
    kind: str  # "typed", "helper", "nested", "row_backend", "all"
    match: Callable[[dict], bool]
    redact: tuple = ()  # dotted paths the query redacts in the reply


def _path(doc: dict) -> str:
    return doc["request"]["path"]


TAIL_5XX = Filter("status_5xx", "response.status >= 500", "typed",
                  lambda d: d["response"]["status"] >= 500)
TAIL_ORDERS_POST = Filter(
    "orders_post",
    'request.path.startsWith("/api/v2/orders") and request.method == "POST"',
    "helper",
    lambda d: _path(d).startswith("/api/v2/orders") and d["request"]["method"] == "POST",
)

# the redact reads a path another conjunct also reads, so the daemon
# cannot use its pure-Column redact and takes the Python row backend
ROW_BACKEND_FILTER = Filter(
    "redact_503",
    'response.status == 503 and request.path.startsWith("/api") and redact("request.path")',
    "row_backend",
    lambda d: d["response"]["status"] == 503 and _path(d).startswith("/api"),
    redact=("request.path",),
)

# the /fetch pool of the UI session
FETCH_FILTERS = [
    Filter("all", "", "all", lambda d: True),
    TAIL_5XX,
    Filter("post", 'request.method == "POST"', "typed",
           lambda d: d["request"]["method"] == "POST"),
    TAIL_ORDERS_POST,
    Filter("port_404", "dst.port == 8080 and response.status == 404", "typed",
           lambda d: d["dst"]["port"] == 8080 and d["response"]["status"] == 404),
    Filter("slow_mobile", 'src.name == "mobile" and response.elapsed_ms > 300', "typed",
           lambda d: d["src"]["name"] == "mobile" and d["response"]["elapsed_ms"] > 300),
    Filter("items_suffix", 'request.path.endsWith("/items")', "helper",
           lambda d: _path(d).endswith("/items")),
    Filter("host", 'request.headers.Host == "partner.shop.example"', "nested",
           lambda d: d["request"]["headers"]["Host"] == "partner.shop.example"),
    Filter("big_or_401", "response.body_bytes > 11500 or response.status == 401", "typed",
           lambda d: d["response"]["body_bytes"] > 11500 or d["response"]["status"] == 401),
    Filter("users", 'request.path.contains("/users/")', "helper",
           lambda d: "/users/" in _path(d)),
    Filter("html", 'response.headers["Content-Type"].startsWith("text/html")', "nested",
           lambda d: d["response"]["headers"]["Content-Type"].startswith("text/html")),
    ROW_BACKEND_FILTER,
]

# /single applies a non-empty query to the record with the Python
# evaluator (the reply is the record whether or not it matches)
SINGLE_QUERIES = [
    Filter("plain", "", "all", lambda d: True),
    TAIL_5XX,
    TAIL_ORDERS_POST,
]

INSERTION_FILTER = 'redact("request.headers.Authorization")'
INSERTION_REDACT = ("request.headers.Authorization",)

VALID_TEXTS = [f.bfl for f in FETCH_FILTERS if f.bfl] + [
    'request.path == "/health" and limit(10)',
    "response.status != 200",
]
INVALID_TEXTS = [
    "response.status >=",
    'request.path.startsWith("/api"',
    "and response.status == 200",
    "request.method == == 'GET'",
    '"unterminated',
]


def apply_redact(doc: dict, paths) -> dict:
    """Copy of ``doc`` with each dotted path that exists set to the
    redaction marker (a missing path is left alone)."""
    if not paths:
        return doc
    out = json.loads(json.dumps(doc))
    for p in paths:
        node = out
        parts = p.split(".")
        for k in parts[:-1]:
            node = node.get(k) if isinstance(node, dict) else None
            if node is None:
                break
        if isinstance(node, dict) and parts[-1] in node:
            node[parts[-1]] = REDACTED
    return out


# -- the store model --------------------------------------------------


class StoreModel:
    """What the daemon holds: ``docs[seq]`` is the stored document
    (insertion-filter redactions applied, ``id`` injected)."""

    def __init__(self, insertion_redact=()):
        self.docs: list[dict] = []
        self.insertion_redact = tuple(insertion_redact)

    def add(self, doc: dict) -> None:
        stored = dict(apply_redact(doc, self.insertion_redact))
        stored["id"] = index_to_id(len(self.docs))
        self.docs.append(stored)

    def fetch_page(self, flt: Filter, left_off: int, direction: int,
                   limit: int, visible: int) -> list[int]:
        """Seqs of one ``/fetch`` page over the first ``visible`` docs.
        Forward pages start AT ``left_off``; backward pages start just
        BEFORE it (the daemon resolves ``latest`` to the last seq, and a
        backward scan excludes its own start).  Newest first when
        ``direction < 0``."""
        out: list[int] = []
        if direction < 0:
            rng = range(min(left_off, visible) - 1, -1, -1)
        else:
            rng = range(max(left_off, 0), visible)
        for s in rng:
            if flt.match(self.docs[s]):
                out.append(s)
                if len(out) >= limit:
                    break
        return out

    def reply_doc(self, seq: int, flt: Filter) -> dict:
        return apply_redact(self.docs[seq], flt.redact)


def normalize(doc):
    """JSON value with null-valued object keys dropped — the daemon's
    typed read path fills absent schema columns with nulls and strips
    them again, so a null carries no information the generator made
    (the generator never emits nulls)."""
    if isinstance(doc, dict):
        return {k: normalize(v) for k, v in doc.items() if v is not None}
    if isinstance(doc, list):
        return [normalize(v) for v in doc]
    return doc


def selectivity(seed: int, n: int = 20000) -> dict:
    g = DocGen(seed)
    docs = [g.doc() for _ in range(n)]
    out = {}
    for f in FETCH_FILTERS + [TAIL_5XX, TAIL_ORDERS_POST]:
        out[f.name] = round(sum(1 for d in docs if f.match(d)) / n, 4)
    return out


if __name__ == "__main__":
    # share of generated docs each benchmark filter matches
    print(json.dumps(selectivity(int(sys.argv[1]) if len(sys.argv) > 1 else 1), indent=1))
