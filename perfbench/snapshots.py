"""Seeded "most actives" snapshots for ``dashboard_refresh`` and a pure-Python
model of what the warehouse and the dashboard must show for them.

Each simulated trading day lists 100 of a fixed universe of 108 entities as
raw screener quotes, the shape ``sources.scraper.collect_most_actives``
pages through. Every day carries the edge rows of FIXTURES.md §1:

- a quote with an empty symbol and one with a blank symbol (the scraper
  drops both), and an entity whose long and short names are empty (its
  name falls back to the symbol);
- ``"N/A"`` prices and market caps, and NULL volumes (at most 3 of 100, so
  the scraper's 90 % coverage gate holds);
- market caps on both sides of the 2e9 and 1e10 bucket edges, and exactly
  on them;
- volume outliers, so rows with a volume z-score above 2 exist;
- a second quote for an already listed symbol (the scraper keeps the first).

Entities change category or location now and then, so ``dim_entity`` must
keep each entity's latest attributes. The model below is built only from
the generator's own records; it shares no code with the program.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections.abc import Callable
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from fractions import Fraction

UNIVERSE = 108
LISTED = 100
_FIRST_DAY = datetime(2024, 3, 1, 21, 0, tzinfo=timezone.utc)
_CATEGORIES = ["EQUITY", "ETF", "MUTUALFUND"]
_LOCATIONS = ["US", "GB", "DE", "JP", "CA"]
_EXCHANGES = ["NasdaqGS", "NYSE", "NYSEArca", None]
_CAP_EDGES = [2_000_000_000, 2_000_000_001, 1_999_999_999,
              10_000_000_000, 10_000_000_001, 9_999_999_999]
STAR_COLUMNS = ["entity_sk", "observation_sk", "symbol", "observation_date", "scraped_at",
                "price", "market_cap", "volume", "avg_volume_3m", "source_url",
                "entity_name", "category", "location", "exchange", "currency",
                "last_seen_scraped_at", "market_cap_category"]


@dataclass(frozen=True)
class Observation:
    """One row the scraper must keep, with the values it must carry."""

    symbol: str
    entity_name: str
    exchange: str | None
    category: str
    location: str
    currency: str | None
    price: Decimal | None
    market_cap: int | None
    volume: int | None
    avg_volume_3m: int
    scraped_at: str

    @property
    def entity_sk(self) -> str:
        return _sha(self.symbol, self.entity_name, self.exchange)

    @property
    def observation_sk(self) -> str:
        return _sha(self.symbol, self.entity_name, self.exchange, self.scraped_at)

    @property
    def instant(self) -> datetime:
        """``scraped_at`` as the naive UTC datetime Spark returns under TZ=UTC."""
        return datetime.fromisoformat(self.scraped_at).astimezone(timezone.utc).replace(tzinfo=None)

    @property
    def day(self) -> date:
        return self.instant.date()


def _sha(*parts: str | None) -> str:
    return hashlib.sha256("|".join(p or "" for p in parts).encode()).hexdigest()


def _bucket(cap: int | None) -> str:
    if cap is None:
        return "Unknown"
    return "Small" if cap <= 2e9 else "Mid" if cap <= 1e10 else "Large"


class SnapshotGenerator:
    """Raw quotes per simulated day, fully determined by the seed."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = random.Random(seed)
        self.universe = []
        for i in range(UNIVERSE):
            self.universe.append({
                "symbol": f"S{i:03d}{rng.choice('ABCDEFGHJK')}",
                "name": "" if i == 7 else f"{rng.choice(['Acme', 'Globex', 'Initech', 'Umbrella'])} {i}",
                "exchange": _EXCHANGES[i % 4] if i % 25 == 3 else _EXCHANGES[i % 3],
                "currency": None if i == 11 else rng.choice(["USD", "EUR", "GBP"]),
                "price": rng.uniform(2.0, 900.0),
                "cap": _CAP_EDGES[i] if i < len(_CAP_EDGES) else int(10 ** rng.uniform(8, 12.5)),
                "volume": 10 ** rng.uniform(5.5, 7.5),
            })
        self._days: dict[int, tuple[list[dict], list[Observation]]] = {}

    def scraped_at(self, day: int) -> str:
        return (_FIRST_DAY + timedelta(days=day)).isoformat()

    def _day(self, day: int) -> tuple[list[dict], list[Observation]]:
        if day in self._days:
            return self._days[day]
        rng = random.Random(self.seed * 1_000_003 + day)
        listed = sorted(rng.sample(range(UNIVERSE), LISTED))
        na_price, na_cap, no_volume, spikes = (
            set(rng.sample(listed, k)) for k in (2, 2, 3, 2)
        )
        stamp = self.scraped_at(day)
        quotes, kept = [], []
        for i in listed:
            e = self.universe[i]
            # Attributes drift: about one entity in twelve moves per day.
            r = random.Random(f"{self.seed}/{i}/{day // 2}")
            category = _CATEGORIES[(i + (r.random() < 0.25)) % 3]
            location = _LOCATIONS[(i + (r.random() < 0.25)) % 5]
            price = Decimal(f"{e['price'] * rng.uniform(0.9, 1.1):.4f}")
            cap = e["cap"] if i < len(_CAP_EDGES) else int(e["cap"] * rng.uniform(0.95, 1.05))
            base = e["volume"] * (40 if i in spikes else rng.uniform(0.5, 1.5))
            # Distinct volumes everywhere: the top-5 panel sorts on volume alone.
            volume = int(base // 10_000) * 10_000 + day * 128 + i
            obs = Observation(
                symbol=e["symbol"],
                entity_name=e["name"] or e["symbol"],
                exchange=e["exchange"],
                category=category,
                location=location,
                currency=e["currency"],
                price=None if i in na_price else price,
                market_cap=None if i in na_cap else cap,
                volume=None if i in no_volume else volume,
                avg_volume_3m=int(e["volume"]),
                scraped_at=stamp,
            )
            kept.append(obs)
            quotes.append({
                "symbol": e["symbol"],
                "longName": e["name"],
                "shortName": e["name"],
                "typeDisp": category,
                "region": location,
                "fullExchangeName": e["exchange"],
                "currency": e["currency"],
                "regularMarketPrice": "N/A" if i in na_price else str(price),
                "marketCap": "N/A" if i in na_cap else cap,
                "regularMarketVolume": None if i in no_volume else volume,
                "averageDailyVolume3Month": int(e["volume"]),
            })
        dup = dict(quotes[5], regularMarketVolume=1, longName="Duplicate listing")
        quotes.insert(60, dup)
        quotes.insert(30, dict(quotes[0], symbol="   "))
        quotes.insert(10, dict(quotes[0], symbol=""))
        self._days[day] = (quotes, kept)
        return self._days[day]

    def feed(self, day: int) -> Callable[[int, int], list[dict]]:
        """A ``fetch_fn(start, count)`` paging through the day's quotes."""
        quotes = self._day(day)[0]
        return lambda start, count: [dict(q) for q in quotes[start:start + count]]

    def kept(self, day: int) -> list[Observation]:
        return self._day(day)[1]


def widget_states(seed: int, n: int) -> list[dict]:
    """``n`` seeded dashboard requests, as ``apply_filters`` keyword arguments.

    Every seed gets the same mix of metrics and row limits, in its own order,
    so that the work of a pass does not depend on the seed's luck."""
    rng = random.Random(seed * 7919 + 1)
    thresholds = {"volume": [0, 1_000_000, 5_000_000], "price": [0, 50, 200],
                  "market_cap": [0, 2e9, 1e10]}
    limits = [5, 10, 20, 50, 100, 200, None]
    mix = [(sorted(thresholds)[i % 3], limits[i % len(limits)]) for i in range(n)]
    rng.shuffle(mix)
    states = []
    for metric, limit in mix:
        states.append({
            "equality_filters": {
                "category": rng.choice(["All", "All"] + _CATEGORIES),
                "location": rng.choice(["All", "All"] + _LOCATIONS),
                "market_cap_category": rng.choice(["All", "All", "Small", "Mid", "Large", "Unknown"]),
            },
            "metric": metric,
            "min_threshold": rng.choice(thresholds[metric]),
            "sort_by": metric,
            "tiebreaker": "observation_sk",
            "limit": limit,
        })
    return states


class WarehouseModel:
    """What the star must hold after a sequence of loads."""

    def __init__(self, source_url: str) -> None:
        self.source_url = source_url
        self.facts: dict[str, Observation] = {}
        self.latest: dict[str, Observation] = {}

    def load(self, observations: list[Observation]) -> None:
        for o in observations:
            self.facts[o.observation_sk] = o
            cur = self.latest.get(o.entity_sk)
            if cur is None or cur.scraped_at <= o.scraped_at:
                self.latest[o.entity_sk] = o

    def volume_total(self) -> int:
        return sum(o.volume for o in self.facts.values() if o.volume is not None)

    def dim_rows(self) -> set[tuple]:
        return {(sk, o.symbol, o.entity_name, o.category, o.location, o.exchange, o.currency)
                for sk, o in self.latest.items()}

    def star(self) -> list[dict]:
        """The serving star: every fact joined to its entity's latest row."""
        rows = []
        for o in self.facts.values():
            d = self.latest[o.entity_sk]
            rows.append({
                "entity_sk": o.entity_sk, "observation_sk": o.observation_sk,
                "symbol": o.symbol, "observation_date": o.day,
                "scraped_at": o.instant, "price": o.price, "market_cap": o.market_cap,
                "volume": o.volume, "avg_volume_3m": o.avg_volume_3m,
                "source_url": self.source_url, "entity_name": d.entity_name,
                "category": d.category, "location": d.location, "exchange": d.exchange,
                "currency": d.currency, "last_seen_scraped_at": d.instant,
                "market_cap_category": _bucket(o.market_cap),
            })
        return rows

    def request(self, state: dict) -> list[tuple]:
        """``apply_filters`` evaluated in Python: filters, COALESCE(metric, 0)
        threshold, metric DESC NULLS LAST, tiebreaker ASC, limit."""
        metric = state["metric"]
        rows = [r for r in self.star()
                if all(v == "All" or r[c] == v for c, v in state["equality_filters"].items())
                and (r[metric] or 0) >= state["min_threshold"]]
        rows.sort(key=lambda r: r[state["tiebreaker"]])
        rows.sort(key=lambda r: (r[metric] is not None, r[metric] or 0), reverse=True)
        rows = rows[: state["limit"]] if state["limit"] is not None else rows
        return [tuple(r[c] for c in STAR_COLUMNS) for r in rows]

    def top_by_volume(self, n: int = 5) -> list[tuple]:
        rows = sorted((r for r in self.star() if r["volume"] is not None),
                      key=lambda r: r["volume"], reverse=True)
        return [tuple(r[c] for c in STAR_COLUMNS) for r in rows[:n]]

    def shocks(self) -> tuple[set[tuple], Callable[[int], Fraction]]:
        """Star rows with a one-sided volume z-score above 2 (sample stddev),
        and the exact z function used to decide them."""
        vols = [o.volume for o in self.facts.values() if o.volume is not None]
        n, s1, s2 = len(vols), sum(vols), sum(v * v for v in vols)
        std = Fraction(math.sqrt(Fraction(s2 * n - s1 * s1, n * (n - 1))))

        def z(v: int) -> Fraction:
            return (Fraction(v) - Fraction(s1, n)) / std

        rows = {tuple(r[c] for c in STAR_COLUMNS) for r in self.star()
                if r["volume"] is not None and z(r["volume"]) > 2}
        return rows, z
