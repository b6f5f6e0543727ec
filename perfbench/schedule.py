"""Class-pure, seed-stable operation schedules.

A workload's schedule is a list of rounds; every round holds one
operation per *stratum*, and a stratum fixes everything that sets an
operation's cost (kind, filter shape, auth path, page size, ``from``
bucket, term document-frequency bucket, JSONP). The seed only picks
parameter values inside a stratum, so every seed yields the same number
of operations per class and per cost stratum.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from urllib.parse import urlencode

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_TYPE_WEIGHTS = (0.45, 0.30, 0.10, 0.05, 0.10)
EVENT_OWNERS = 40          # events ownerid = "u<user_id % 40>"
DOC_SOURCES = 20           # dataset datahub.owner = "src<0..19>"
LANGS = ("en", "zh", "fr", "es", "de")

# name, kind, auth, filter shape, size, from range, sort, jsonp
FILTER_STRATA = (
    ("ev_type1", "events", "anon", "type1", 10, (0, 0), "desc", False),
    ("ev_type2_asc", "events", "anon", "type2", 25, (0, 0), "asc", False),
    ("ev_jwt_type1_owner1", "events", "header", "type1_owner1", 50, (0, 0), None, False),
    ("ev_jwt_owner2_deep", "events", "param", "owner2", 20, (1000, 3000), "asc", False),
    ("ev_none_deep", "events", "anon", "none", 100, (20000, 40000), "asc", False),
    ("ev_type3_owner2_jsonp", "events", "anon", "type3_owner2", 10, (0, 0), "desc", True),
    ("ev_jwt_none_mid", "events", "header", "none", 50, (100, 500), "desc", False),
    ("ev_type1_mid_jsonp", "events", "anon", "type1", 100, (100, 500), "asc", True),
    ("ev_jwt_type2", "events", "param", "type2", 5, (0, 0), None, False),
    ("ev_owner1", "events", "anon", "owner1", 50, (0, 0), "desc", False),
    ("ds_none", "dataset", "anon", "none", 20, (0, 0), None, False),
    ("ds_owner1", "dataset", "anon", "owner1", 10, (0, 0), None, False),
    ("ds_jwt_owner2", "dataset", "header", "owner2", 50, (0, 0), None, False),
    ("ds_name1_owner1", "dataset", "anon", "name1_owner1", 20, (0, 0), None, False),
    ("ds_jwt_name2_deep", "dataset", "param", "name2", 50, (300, 900), None, False),
    ("ds_none_mid_jsonp", "dataset", "anon", "none", 100, (100, 400), None, True),
    ("ds_jwt_owner1", "dataset", "header", "owner1", 100, (0, 0), None, False),
    ("ds_name1", "dataset", "anon", "name1", 5, (0, 0), "asc", False),
    ("ds_jwt_none_deep", "dataset", "param", "none", 50, (500, 1500), None, False),
    ("ds_owner3_jsonp", "dataset", "anon", "owner3", 25, (20, 20), None, True),
)

# name, term buckets, auth, owner filter, size, from
RELEVANCE_STRATA = (
    ("q_hi", ("hi",), "anon", False, 10, 0),
    ("q_mid", ("mid",), "header", False, 20, 0),
    ("q_lo", ("lo",), "anon", False, 50, 0),
    ("q_hi_mid", ("hi", "mid"), "param", False, 10, 10),
    ("q_mid_lo", ("mid", "lo"), "anon", False, 25, 0),
    ("q_hi_mid_lo", ("hi", "mid", "lo"), "header", False, 10, 0),
    ("q_mid_owner", ("mid",), "anon", True, 20, 0),
    ("q_hi_lo_owner", ("hi", "lo"), "header", True, 50, 5),
)

# one read after every ingest commit, taking these strata in turn
INGEST_READ_STRATA = (
    ("in_type1", "events", "anon", "type1", 20, (0, 0), "desc", False),
    ("in_jwt_owner1_mid", "events", "header", "owner1", 50, (100, 300), "asc", False),
)


@dataclass
class Request:
    stratum: str
    kind: str
    user: str | None
    auth: str                    # anon | header (Auth-Token) | param (?jwt=)
    filters: dict[str, list[str]]
    size: int
    offset: int
    sort: str | None
    callback: str | None
    terms: list[str] = field(default_factory=list)

    @property
    def path(self) -> str:
        return "/metastore/search" if self.kind == "dataset" else f"/metastore/search/{self.kind}"

    def query_pairs(self, token: str | None = None) -> list[tuple[str, str]]:
        pairs: list[tuple[str, str]] = []
        if self.terms:
            pairs.append(("q", json.dumps(" ".join(self.terms))))
        for fld, values in self.filters.items():
            pairs.extend((fld, json.dumps(v)) for v in values)
        pairs += [("size", str(self.size)), ("from", str(self.offset))]
        if self.sort:
            pairs.append(("sort", json.dumps(self.sort)))
        if self.callback:
            pairs.append(("callback", self.callback))
        if token and self.auth == "param":
            pairs.append(("jwt", token))
        return pairs

    def query_string(self, token: str | None = None) -> str:
        return urlencode(self.query_pairs(token))


def _pick(rng: random.Random, pool, k: int) -> list:
    return rng.sample(list(pool), k)


def _filters(rng: random.Random, kind: str, shape: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for part in shape.split("_"):
        if part == "none":
            continue
        what, k = part[:-1], int(part[-1])
        if kind == "events" and what == "type":
            out["event_type"] = _pick(rng, EVENT_TYPES, k)
        elif kind == "events" and what == "owner":
            out["ownerid"] = [f"u{i}" for i in _pick(rng, range(EVENT_OWNERS), k)]
        elif kind == "dataset" and what == "owner":
            out["datahub.owner"] = [f"src{i}" for i in _pick(rng, range(DOC_SOURCES), k)]
        elif kind == "dataset" and what == "name":
            out["datahub.name"] = _pick(rng, LANGS, k)
        else:
            raise ValueError(f"unknown filter shape {shape!r} for {kind}")
    return out


def _user(rng: random.Random, kind: str, auth: str) -> str | None:
    if auth == "anon":
        return None
    if kind == "events":
        return f"u{rng.randrange(EVENT_OWNERS)}"
    return f"src{rng.randrange(DOC_SOURCES)}"


def _filter_request(rng: random.Random, stratum: tuple) -> Request:
    name, kind, auth, shape, size, (lo, hi), sort, jsonp = stratum
    return Request(
        stratum=name,
        kind=kind,
        user=_user(rng, kind, auth),
        auth=auth,
        filters=_filters(rng, kind, shape),
        size=size,
        offset=rng.randint(lo, hi),
        sort=sort,
        callback=f"cb{rng.randrange(1000)}" if jsonp else None,
    )


def filter_schedule(seed: int, rounds: int) -> list[Request]:
    rng = random.Random(f"search_filter|{seed}")
    return [_filter_request(rng, s) for _ in range(rounds) for s in FILTER_STRATA]


def relevance_schedule(
    seed: int, rounds: int, pools: dict[str, list[str]]
) -> list[Request]:
    """``pools`` maps a document-frequency bucket (hi / mid / lo) to the
    corpus terms in it; a request's terms come one per listed bucket."""
    rng = random.Random(f"search_relevance|{seed}")
    out = []
    for _ in range(rounds):
        for name, buckets, auth, owner, size, offset in RELEVANCE_STRATA:
            terms: list[str] = []
            for b in buckets:
                terms.append(rng.choice([t for t in pools[b] if t not in terms]))
            out.append(Request(
                stratum=name,
                kind="dataset",
                user=_user(rng, "dataset", auth),
                auth=auth,
                filters=_filters(rng, "dataset", "owner1" if owner else "none"),
                size=size,
                offset=offset,
                sort=None,
                callback=None,
                terms=terms,
            ))
    return out


@dataclass
class Cycle:
    """One ingest cycle: append ``rows`` (new events, the table's column
    order), then serve ``reads`` on the new head."""
    rows: list[tuple]
    reads: list[Request]


def ingest_schedule(
    seed: int, cycles: int, batch: int, first_id: int, first_ts_us: int, n_users: int
) -> list[Cycle]:
    """Row ids and timestamps continue the seeded table deterministically;
    the seed picks event types, users and values (a fixed number of rows
    per cycle, so commit sizes never depend on the seed)."""
    rng = random.Random(f"ingest_search|{seed}")
    out = []
    next_id, ts = first_id, first_ts_us
    for c in range(cycles):
        rows = []
        for _ in range(batch):
            user = rng.randrange(n_users)
            ts += 1_000 + rng.randrange(1_000_000)
            rows.append((
                next_id,
                ts,
                rng.choices(EVENT_TYPES, EVENT_TYPE_WEIGHTS)[0],
                user,
                round(rng.uniform(0.01, 490.02), 2),
                "published" if next_id % 2 == 0 else "unlisted",
                f"u{user % EVENT_OWNERS}",
            ))
            next_id += 1
        read = INGEST_READ_STRATA[c % len(INGEST_READ_STRATA)]
        out.append(Cycle(rows, [_filter_request(rng, read)]))
    return out


def class_counts(requests: list[Request]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for r in requests:
        counts[r.stratum] = counts.get(r.stratum, 0) + 1
    return counts
