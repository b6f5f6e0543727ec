"""Generation-swapped state stores for foreachBatch operators.

A batch with id B merges its delta into the newest complete generation
BELOW B and writes ``gen=<B>``, so an at-least-once replay of B rebuilds
from the same predecessor the first attempt saw and converges to the
identical state. A generation is complete once its ``_SUCCESS`` marker
exists; after ``gen=<B>`` lands, every generation below B's
predecessor is pruned, so a long-lived stream keeps at most two full
copies.
"""

from __future__ import annotations

import os
import shutil


def _all_gens(root: str) -> list[int]:
    """The complete generations under ``root``, ascending."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("=")[1])
        for d in os.listdir(root)
        if d.startswith("gen=")
        and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )


def _latest_gen(root: str) -> int | None:
    gens = _all_gens(root)
    return gens[-1] if gens else None


def _gen_below(root: str, batch_id: int) -> str | None:
    """Path of batch ``batch_id``'s predecessor: the newest complete
    generation below it, or None for the first batch."""
    gens = [g for g in _all_gens(root) if g < batch_id]
    return os.path.join(root, f"gen={gens[-1]}") if gens else None


def _prune_gens(root: str, newest: int) -> None:
    """Bound state: after gen=``newest`` lands, drop every generation
    below its predecessor. availableNow replays only re-run the last
    in-flight batch, so one predecessor suffices — without this a
    long-lived stream accumulates one full copy per batch."""
    below = [g for g in _all_gens(root) if g < newest]
    for g in below[:-1]:
        shutil.rmtree(os.path.join(root, f"gen={g}"), ignore_errors=True)
