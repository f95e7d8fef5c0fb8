"""Seeded, single-process bronze generator for the pipeline benchmark.

Writes one reference-shaped ``YYYY-MM-DD.json`` day-file per date: an
object mapping region code -> ``videoListResponse``. Items have the
splitmix64 shape of ``scripts/domain_scale_demo.py`` (every 7th item lacks
its like/comment counts), with the seed mixed into every item hash, so the
same (seed, dates, size) always gives byte-identical files.

Alongside the files the generator returns the values the pipeline must
reproduce: items per (region, date), the per-(region, date) view, like and
comment totals, and how many channel ids each day first introduces.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

MASK = 0xFFFFFFFFFFFFFFFF
REGIONS = [
    "QA", "US", "DE", "GB", "FR", "JP", "KR", "IN", "BR", "MX",
    "CA", "AU", "IT", "ES", "NL", "SE", "NO", "DK", "FI", "PL",
    "TR", "SA", "AE", "EG", "ZA", "NG", "KE", "AR", "CL", "CO",
    "PE", "VE", "ID", "MY", "TH", "VN", "PH", "SG", "TW", "HK",
    "RU", "UA", "CZ", "AT", "CH", "BE", "PT", "GR", "HU", "RO",
]
N_CATEGORIES = 30
N_CHANNELS = 100_000
WORDS = (
    "trending viral daily weekly review highlights challenge tutorial "
    "reaction gameplay music news sports comedy science travel food "
    "tech history nature"
).split()


def mix(x: int) -> int:
    """splitmix64 finalizer."""
    x = (x + 0x9E3779B97F4A7C15) & MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK
    return x ^ (x >> 31)


@dataclass
class Expected:
    """What the silver, gold and channel tables must hold for a date range."""

    items: dict = field(default_factory=dict)  # (region, date) -> item count
    totals: dict = field(default_factory=dict)  # (region, date) -> (views, likes, comments)
    new_channels: dict = field(default_factory=dict)  # date -> count of channel ids first seen that day

    def to_json(self) -> dict:
        return {
            "items": [[r, d.isoformat(), n] for (r, d), n in self.items.items()],
            "totals": [[r, d.isoformat(), *t] for (r, d), t in self.totals.items()],
            "new_channels": {d.isoformat(): n for d, n in self.new_channels.items()},
        }

    @classmethod
    def from_json(cls, doc: dict) -> "Expected":
        day = dt.date.fromisoformat
        return cls(
            items={(r, day(d)): n for r, d, n in doc["items"]},
            totals={(r, day(d)): tuple(t) for r, d, *t in doc["totals"]},
            new_channels={day(d): n for d, n in doc["new_channels"].items()},
        )


ITEM = (
    '{"kind":"youtube#video","etag":"e%016x","id":"v%016x",'
    '"snippet":{"publishedAt":"%sT%02d:%02d:00Z","channelId":"%s","title":"%s",'
    '"channelTitle":"Channel %s","categoryId":"%d","liveBroadcastContent":"none"},'
    '"contentDetails":{"duration":"PT%dM%dS","definition":"%s","caption":"false",'
    '"licensedContent":%s},"statistics":{"viewCount":"%d","favoriteCount":"0"%s}}'
)


def _item(h: int, published: list[str]) -> tuple[str, int, int, int, str]:
    """One video item as compact JSON, plus the (views, likes, comments,
    channel) the silver and gold tables must show for it."""
    views = 1_000 + h % 5_000_000
    likes = (h >> 8) % max(views // 10, 1)
    comments = (h >> 16) % max(likes + 1, 1)
    chan = f"UC{(h >> 24) % N_CHANNELS:08d}"
    if h % 7:
        counts = f',"likeCount":"{likes}","commentCount":"{comments}"'
    else:  # every 7th item exercises the missing-count default
        counts, likes, comments = "", 0, 0
    title = " ".join(WORDS[(h >> (4 * k)) % len(WORDS)] for k in range(4))
    item = ITEM % (
        h, h, published[h % 30], h % 24, (h >> 5) % 60, chan, title, chan[-5:],
        1 + h % N_CATEGORIES, 1 + (h >> 10) % 59, (h >> 3) % 60,
        "hd" if h % 3 else "sd", "true" if h % 2 else "false", views, counts,
    )
    return item, views, likes, comments, chan


def generate(
    out_dir: str,
    seed: int,
    dates: list[dt.date],
    regions: list[str],
    items_per_region: int,
) -> Expected:
    """Write one day-file per date into ``out_dir`` and return the expected
    table contents, with channels counted as new from the first date on."""
    os.makedirs(out_dir, exist_ok=True)
    salt = mix(seed & MASK)
    seen: set[str] = set()
    exp = Expected()
    for date in dates:
        day_i = date.toordinal()
        published = [(date - dt.timedelta(days=k)).isoformat() for k in range(30)]
        parts = []
        fresh = set()
        for ri, region in enumerate(regions):
            items = []
            tv = tl = tc = 0
            for i in range(items_per_region):
                h = mix((salt + day_i * 1_000_003 + ri * 1009 + i) & MASK)
                item, v, li, c, chan = _item(h, published)
                items.append(item)
                tv, tl, tc = tv + v, tl + li, tc + c
                if chan not in seen:
                    fresh.add(chan)
            exp.items[(region, date)] = len(items)
            exp.totals[(region, date)] = (tv, tl, tc)
            n = len(items)
            parts.append(
                f'"{region}":{{"kind":"youtube#videoListResponse","etag":"d{day_i}r{ri}s{seed}",'
                f'"pageInfo":{{"totalResults":{n},"resultsPerPage":{n}}},'
                f'"items":[{",".join(items)}]}}'
            )
        seen |= fresh
        exp.new_channels[date] = len(fresh)
        with open(os.path.join(out_dir, f"{date.isoformat()}.json"), "w") as fh:
            fh.write("{" + ",".join(parts) + "}")
    return exp
