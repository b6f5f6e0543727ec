"""Per-response output checks. A response passes only if every check
holds; an HTTP 200 carrying an ``error`` key is a failure (the engine
contains errors into the envelope instead of raising)."""

from __future__ import annotations

import json
import math
from datetime import datetime, timedelta

from oracle import Expected
from schedule import Request

REL_TOL = 1e-9
EPOCH = datetime(1970, 1, 1)
MICRO = timedelta(microseconds=1)


def parse_body(req: Request, body: bytes) -> dict:
    text = body.decode()
    if req.callback:
        head, tail = f"{req.callback}(", ");"
        if not (text.startswith(head) and text.endswith(tail)):
            raise ValueError("JSONP wrapper missing")
        text = text[len(head):-len(tail)]
    return json.loads(text)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6)


def _ordered(keys: list) -> bool:
    return all(a <= b for a, b in zip(keys, keys[1:]))


def check(req: Request, status: str, body: bytes, exp: Expected, boost_of=None) -> list[str]:
    """Problems found in one response (empty when it is correct).
    ``boost_of`` maps dataset ids to their static core boost."""
    if not status.startswith("200"):
        return [f"status {status}"]
    try:
        env = parse_body(req, body)
    except ValueError as e:
        return [f"unparsable body: {e}"]
    if "error" in env:
        return [f"error envelope: {env['error']}"]
    problems = []
    results = env.get("results", [])
    total = env.get("summary", {}).get("total")
    if total != exp.total:
        problems.append(f"total {total} != {exp.total}")
    elif not _close(env["summary"].get("totalBytes", 0.0), exp.total_bytes):
        problems.append(f"totalBytes {env['summary'].get('totalBytes')} != {exp.total_bytes}")
    want_len = min(req.size, max(0, (total or 0) - req.offset))
    if len(results) != want_len:
        problems.append(f"page length {len(results)} != {want_len}")
    ids = [r["event_id" if req.kind == "events" else "id"] for r in results]
    if exp.scores is not None:
        # BM25 floats: equal-score neighbours may legitimately swap at
        # the last ulp, so order is judged on the expected scores
        got = [exp.scores[i] for i in ids]
        want = [exp.scores[i] for i in exp.page]
        if len(set(ids)) != len(ids) or not set(ids) <= set(int(i) for i in exp.eligible):
            problems.append("page holds ineligible or repeated ids")
        elif any(not _close(a, b) for a, b in zip(got, want)) or any(
            a < b and not _close(a, b) for a, b in zip(got, got[1:])
        ):
            problems.append("page out of relevance order")
        return problems
    if req.kind == "events":
        desc = req.sort != "asc"
        ts = [(datetime.fromisoformat(str(r["timestamp"])) - EPOCH) // MICRO for r in results]
        keys = [(-t if desc else t, i) for t, i in zip(ts, ids)]
    else:
        keys = [(-b, i) for b, i in zip(boost_of(ids), ids)]
    if not _ordered(keys):
        problems.append("page out of order")
    if ids != [int(i) for i in exp.page]:
        problems.append("page ids differ from the expected page")
    return problems
