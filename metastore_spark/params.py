"""Typed query-parameter parsing → a small, explicit IR.

Mirrors the reference's wire contract (metastore/models.py:97-105,
122-142): every query-string value is JSON-typed (``json.loads`` per
value — metastore/models.py:101), control params (``q`` ``size``
``from`` ``sort`` ``jwt``) are popped before the residue becomes
filters, ``size`` is defaulted to 50 and clamped to 100
(metastore/models.py:129-132), ``from`` defaults to 0. A negative
``size`` or ``from`` is a ParamError (ES rejects both), raised before
any Spark work.

The IR is a plain dataclass, the only "plan" object in the engine —
everything downstream is Catalyst's job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


class ParamError(ValueError):
    """Maps to the reference's error envelope (metastore/models.py:165-174)."""


DEFAULT_SIZE = 50
MAX_SIZE = 100
CONTROL_PARAMS = ("q", "size", "from", "sort", "jwt")


@dataclass
class QuerySpec:
    """Parsed search request.

    ``filters`` maps field path → list of JSON-typed values; semantics
    are AND across fields, OR within a field's value list
    (metastore/models.py:97-105, ``should`` + minimum_should_match=1).
    """

    q: str | None = None
    size: int = DEFAULT_SIZE
    offset: int = 0
    sort_desc: bool = True
    filters: dict[str, list[object]] = field(default_factory=dict)


def parse_params(params: dict[str, list[str] | str]) -> QuerySpec:
    """Parse a multidict of raw string params into a QuerySpec.

    Accepts either ``str`` or ``list[str]`` values (HTTP multidicts give
    lists). Raises ParamError on malformed JSON values, matching the
    reference's JSONDecodeError → error-envelope behavior
    (tests/test_controllers.py:360-372).
    """
    multi: dict[str, list[str]] = {
        k: (v if isinstance(v, list) else [v]) for k, v in params.items()
    }

    spec = QuerySpec()

    if "q" in multi:
        # the reference JSON-decodes q like every other param
        # (metastore/models.py:92); unquoted text → error envelope
        raw_q = multi.pop("q")[0]
        try:
            q_val = json.loads(raw_q)
        except (json.JSONDecodeError, TypeError) as e:
            raise ParamError(f"invalid JSON value for 'q': {raw_q!r}") from e
        spec.q = str(q_val)
    if "size" in multi:
        try:
            size = int(multi.pop("size")[0])
        except (TypeError, ValueError) as e:
            raise ParamError(f"invalid size: {e}") from e
        if size < 0:
            raise ParamError(f"invalid size: {size} is negative")
        # Clamp only applies to user-supplied sizes (metastore/models.py:129-132)
        spec.size = min(size, MAX_SIZE)
    if "from" in multi:
        try:
            spec.offset = int(multi.pop("from")[0])
        except (TypeError, ValueError) as e:
            raise ParamError(f"invalid from: {e}") from e
        if spec.offset < 0:
            raise ParamError(f"invalid from: {spec.offset} is negative")
    if "sort" in multi:
        raw = multi.pop("sort")[0].strip('"').lower()
        if raw not in ("asc", "desc"):
            # the reference forwards the raw order to ES, which rejects
            # it → error envelope; same observable contract here
            raise ParamError(f"invalid sort order: {raw!r}")
        spec.sort_desc = raw != "asc"
    multi.pop("jwt", None)

    for key, values in multi.items():
        parsed: list[object] = []
        for v in values:
            try:
                val = json.loads(v)
            except (json.JSONDecodeError, TypeError) as e:
                raise ParamError(f"invalid JSON value for {key!r}: {v!r}") from e
            if isinstance(val, (dict, list)):
                # ES rejects object/array values in match/term queries →
                # the reference surfaces its error envelope; fail here
                # with the same observable outcome.
                raise ParamError(
                    f"filter value for {key!r} must be a scalar, got "
                    f"{type(val).__name__}"
                )
            parsed.append(val)
        spec.filters[key] = parsed
    return spec
