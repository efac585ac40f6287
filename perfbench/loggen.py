"""Seeded Fastly-style log generator with ground truth.

Writes ``*.log`` and ``*.log.gz`` files in the syslog format the program
parses, plus a ``truth.json`` beside them.  Every line is a pure function
of the seed, and gzip members carry no name and a zero mtime, so the same
seed always writes byte-identical files.

Line shapes:

- standard: all 16 fields, matched by the parser's full-line pattern;
- non-ASCII: a standard line whose path and user agent carry non-ASCII
  letters (still a full match);
- missing priority: the ``<N>`` prefix dropped, so the parser falls back
  to its per-field probes, which still find the timestamp and status;
- truncated: cut after the request, so the probes find the timestamp but
  no status;
- junk: letters only, so every probe misses.

The ground truth is what a correct parse of each shape yields: rows,
rows per status class (``other`` when no status is found), rows per
hour of timestamp and rows per request path.  A few hot IPs take a
fixed share of the lines that carry an IP, so per-IP aggregates see
skew.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from collections import Counter
from datetime import datetime, timedelta

BASE_TIME = datetime(2025, 11, 3)
SPAN_DAYS = 4
# the clock last-hours windows are measured against: the end of the span
NOW = BASE_TIME + timedelta(days=SPAN_DAYS)

STATUSES = [200, 200, 200, 200, 200, 206, 301, 304, 400, 404, 404, 499, 500, 503]
METHODS = ["GET", "GET", "GET", "GET", "POST", "PUT", "HEAD", "DELETE"]
CACHE = ["hit", "hit", "hit", "miss", "miss", "pass", "error", "synth"]
ENDPOINTS = [
    "/", "/index.html", "/api/search", "/api/items", "/api/users",
    "/static/app.js", "/static/style.css", "/images/logo.png",
    "/checkout", "/login", "/feed.xml", "/api/metrics",
]
UNICODE_ENDPOINTS = ["/café/menü", "/straße/über", "/日本/検索"]
PARAMS = ["q", "page", "sort", "lang", "id", "ref"]
UAS = [
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/118.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Version/17.0 Safari/605.1.15",
    "python-requests/2.31.0",
    "curl/8.4.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
]
UNICODE_UAS = ["Mozilla/5.0 (ünïcode; Fénix)", "Mozilla/5.0 (Ωmega; Лиса)"]
HOT_IPS = ["203.0.113.7", "198.51.100.23", "192.0.2.99"]
JUNK_WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "elit", "sed", "tempor"]
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]

# shares of all lines; the rest are standard lines.  They are not taken
# from real traffic: together the malformed shapes are the few percent of
# lines that make every parser fallback run in every file, and the hot
# IPs take a share large enough that they top every window's IP ranking,
# which the dashboard's check relies on
SHAPE_SHARES = {"non_ascii": 0.02, "missing_priority": 0.01, "truncated": 0.01,
                "junk": 0.01}
HOT_IP_SHARE = 0.2


def status_class(status: int | None) -> str:
    return f"{status // 100}xx" if status is not None else "other"


def hour_key(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:00:00")


class Truth:
    """Running ground truth of the lines written so far."""

    def __init__(self) -> None:
        self.lines = 0
        self.shapes: Counter = Counter()
        self.status_class: Counter = Counter()
        self.per_hour: Counter = Counter()
        self.per_path: Counter = Counter()

    def add(self, shape: str, ts: datetime | None, status: int | None,
            path: str | None = None) -> None:
        self.lines += 1
        self.shapes[shape] += 1
        self.status_class[status_class(status)] += 1
        if ts is not None:
            self.per_hour[hour_key(ts)] += 1
        if path is not None:
            self.per_path[path] += 1

    def merge(self, other: "Truth") -> None:
        self.lines += other.lines
        self.shapes.update(other.shapes)
        self.status_class.update(other.status_class)
        self.per_hour.update(other.per_hour)
        self.per_path.update(other.per_path)

    @property
    def malformed(self) -> int:
        return sum(self.shapes[s] for s in ("missing_priority", "truncated", "junk"))

    def as_dict(self) -> dict:
        return {
            "lines": self.lines,
            "malformed": self.malformed,
            "shapes": dict(sorted(self.shapes.items())),
            "status_class": dict(sorted(self.status_class.items())),
            "per_hour": dict(sorted(self.per_hour.items())),
            "per_path": dict(sorted(self.per_path.items())),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Truth":
        t = cls()
        t.lines = d["lines"]
        t.shapes.update(d["shapes"])
        t.status_class.update(d["status_class"])
        t.per_hour.update(d["per_hour"])
        t.per_path.update(d["per_path"])
        return t


def _line(rng: random.Random, ts: datetime, truth: Truth) -> str:
    r = rng.random()
    shape = "standard"
    for name, share in SHAPE_SHARES.items():
        if r < share:
            shape = name
            break
        r -= share
    if shape == "junk":
        truth.add(shape, None, None)
        return " ".join(rng.choice(JUNK_WORDS) for _ in range(rng.randint(3, 9)))

    status = rng.choice(STATUSES)
    unicode = shape == "non_ascii"
    endpoint = rng.choice(UNICODE_ENDPOINTS if unicode else ENDPOINTS)
    path = endpoint
    if rng.random() < 0.4:
        keys = rng.sample(PARAMS, rng.randint(1, 3))
        path += "?" + "&".join(f"{k}={rng.randint(0, 20)}" for k in keys)
    ip = (rng.choice(HOT_IPS) if rng.random() < HOT_IP_SHARE
          else f"{rng.randint(1, 223)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}")
    ua = rng.choice(UNICODE_UAS if unicode else UAS)
    date = (f"{DAYS[ts.weekday()]}, {ts.day:02d} {MONTHS[ts.month - 1]} {ts.year} "
            f"{ts:%H:%M:%S} GMT")
    head = (f"{ts:%Y-%m-%dT%H:%M:%SZ} cache-{rng.choice('abcdefgh')}{rng.randint(1, 40)} "
            f"s3logsprod[{rng.randint(1000, 99999)}]: {ip} \"-\" \"-\" {date} "
            f"\"{rng.choice(METHODS)} {path}\"")
    tail = f" {status} {rng.randint(0, 250_000)} \"-\" \"{ua}\" {rng.choice(CACHE)}"
    if shape == "truncated":
        truth.add(shape, ts, None, endpoint)
        return head
    truth.add(shape, ts, status, endpoint)
    if shape == "missing_priority":
        return head + tail
    return f"<{rng.choice((13, 134, 190))}>" + head + tail


def write_file(path: str, lines: list[str]) -> int:
    """Write ``lines`` as text (gzip when ``path`` ends in ``.gz``),
    byte-identical for identical input.  Returns the bytes written."""
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        if path.endswith(".gz"):
            with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0) as g:
                g.write(data)
        else:
            f.write(data)
    return os.path.getsize(path)


def generate(
    out_dir: str,
    seed: int,
    n_files: int,
    lines_per_file: int,
    start: datetime = BASE_TIME,
    span: timedelta = timedelta(days=SPAN_DAYS),
    prefix: str = "part",
) -> Truth:
    """Write ``n_files`` log files (even indices plain, odd gzip) of
    ``lines_per_file`` lines each, with timestamps uniform over
    ``[start, start + span)``, and merge their truth into
    ``out_dir/truth.json``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"{seed}:{prefix}")
    seconds = int(span.total_seconds())
    truth = Truth()
    for i in range(n_files):
        name = f"{prefix}-{i:04d}.log" + (".gz" if i % 2 else "")
        lines = [
            _line(rng, start + timedelta(seconds=rng.randrange(seconds)), truth)
            for _ in range(lines_per_file)
        ]
        write_file(os.path.join(out_dir, name), lines)
    truth_path = os.path.join(out_dir, "truth.json")
    total = Truth()
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            total = Truth.from_dict(json.load(f))
    total.merge(truth)
    with open(truth_path, "w") as f:
        json.dump(total.as_dict(), f, indent=1, sort_keys=True)
    return truth
