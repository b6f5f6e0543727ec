"""Independent expected answers for every request, computed with numpy
from the fixture parquet, outside the timed window.

Nothing here calls the library: visibility, filters, sort order, paging,
summary totals and BM25 are re-derived from the reference semantics.
BM25 uses surface tokens; that equals the engine's stemmed terms because
query terms are corpus vocabulary words (they occur only in the readme
field) and no two vocabulary words share a Porter stem.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from schedule import EVENT_OWNERS, Request

STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)
K1, B = 1.2, 0.75
README_BOOST = 2.0
CORE_BOOST = 4.5


def tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^0-9a-zA-Z']+", text.lower()) if t and t not in STOPWORDS]


class Expected:
    """What a correct response holds: summary and the page's ids."""

    def __init__(self, total: int, total_bytes: float, page: np.ndarray,
                 scores: np.ndarray | None = None, eligible: np.ndarray | None = None):
        self.total = total
        self.total_bytes = total_bytes
        self.page = page
        self.scores = scores      # id -> score, relevance requests only
        self.eligible = eligible  # ids that may appear, relevance only


class EventsOracle:
    """The events kind: the fixture's events plus every appended batch."""

    def __init__(self, corpus_dir: str):
        t = pq.read_table(f"{corpus_dir}/events.parquet",
                          columns=["event_id", "ts", "user_id", "event_type", "value"])
        self.ids = t["event_id"].to_numpy()
        self.ts = t["ts"].cast("int64").to_numpy()
        self.types = t["event_type"].to_numpy(zero_copy_only=False).astype(str)
        self.owners = np.char.add("u", (t["user_id"].to_numpy() % EVENT_OWNERS).astype(str))
        self.values = t["value"].to_numpy()
        self.n_users = int(t["user_id"].to_numpy().max()) + 1

    def append(self, rows: list[tuple]) -> None:
        cols = list(zip(*rows))
        self.ids = np.concatenate([self.ids, np.array(cols[0], dtype=np.int64)])
        self.ts = np.concatenate([self.ts, np.array(cols[1], dtype=np.int64)])
        self.types = np.concatenate([self.types, np.array(cols[2], dtype=str)])
        self.values = np.concatenate([self.values, np.array(cols[4], dtype=float)])
        self.owners = np.concatenate([self.owners, np.array(cols[6], dtype=str)])

    def mask(self, req: Request) -> np.ndarray:
        m = self.ids % 2 == 0  # published
        if req.user is not None:
            m = m | (self.owners == req.user)
        if "event_type" in req.filters:
            m &= np.isin(self.types, req.filters["event_type"])
        if "ownerid" in req.filters:
            m &= np.isin(self.owners, req.filters["ownerid"])
        return m

    def expect(self, req: Request) -> Expected:
        m = self.mask(req)
        ids, ts = self.ids[m], self.ts[m]
        desc = req.sort != "asc"
        order = np.lexsort((ids, -ts if desc else ts))
        page = ids[order][req.offset:req.offset + req.size]
        return Expected(int(m.sum()), float(self.values[m].sum()), page)


class DatasetOracle:
    """The dataset kind built from ``documents`` (see ``harness.dataset_frame``)."""

    def __init__(self, corpus_dir: str):
        t = pq.read_table(f"{corpus_dir}/documents.parquet")
        self.ids = t["doc_id"].to_numpy()
        self.sources = t["source"].to_numpy(zero_copy_only=False).astype(str)
        self.langs = t["lang"].to_numpy(zero_copy_only=False).astype(str)
        self.bytes = t["n_chars"].to_numpy().astype(float)
        self.published = self.ids % 3 == 0
        self.ownerid = np.where(self.ids % 7 == 0, "core", self.sources)
        self.boost = np.where(self.published & (self.ownerid == "core"), CORE_BOOST, 0.0)
        texts = t["text"].to_pylist()
        toks = [tokens(x) for x in texts]
        self.dl = np.array([len(x) for x in toks], dtype=float)
        self.avgdl = float(self.dl.mean())
        self.tf = [Counter(x) for x in toks]
        self.df = Counter(w for x in toks for w in set(x))
        self._tf_cache: dict[str, np.ndarray] = {}

    def term_pools(self) -> dict[str, list[str]]:
        """Document-frequency buckets over the corpus vocabulary, by df
        rank: hi = ranks 3-10, mid = 40-55, lo = 400-430."""
        ranked = [w for w, _ in sorted(self.df.items(), key=lambda kv: (-kv[1], kv[0]))]
        return {"hi": ranked[2:10], "mid": ranked[39:55], "lo": ranked[399:430]}

    def _tf(self, term: str) -> np.ndarray:
        if term not in self._tf_cache:
            self._tf_cache[term] = np.array([c.get(term, 0) for c in self.tf], dtype=float)
        return self._tf_cache[term]

    def mask(self, req: Request) -> np.ndarray:
        m = self.published.copy()
        if req.user is not None:
            m |= self.ownerid == req.user
        if "datahub.owner" in req.filters:
            m &= np.isin(self.sources, req.filters["datahub.owner"])
        if "datahub.name" in req.filters:
            m &= np.isin(self.langs, req.filters["datahub.name"])
        return m

    def expect(self, req: Request) -> Expected:
        m = self.mask(req)
        if not req.terms:
            ids = self.ids[m]
            order = np.lexsort((ids, -self.boost[m]))
            page = ids[order][req.offset:req.offset + req.size]
            return Expected(int(m.sum()), float(self.bytes[m].sum()), page)
        n = len(self.ids)
        score = np.zeros(n)
        matched = np.zeros(n, dtype=bool)
        for term, mult in Counter(tokens(" ".join(req.terms))).items():
            tf = self._tf(term)
            df = self.df.get(term, 0)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            norm = K1 * (1.0 - B + B * self.dl / self.avgdl)
            score += README_BOOST * mult * idf * (tf * (K1 + 1.0)) / (tf + norm)
            matched |= tf > 0
        m &= matched
        score = score + self.boost
        ids = self.ids[m]
        order = np.lexsort((ids, -score[m]))
        page = ids[order][req.offset:req.offset + req.size]
        return Expected(int(m.sum()), float(self.bytes[m].sum()), page,
                        scores=score, eligible=ids)

    def boost_of(self, ids: list[int]) -> list[float]:
        return [float(self.boost[i]) for i in ids]
