"""Result envelope: page of hits + corpus-wide summary aggregates.

The reference attaches to every query (a) the total matched count
(hits.total → summary.total, metastore/models.py:152) and (b) a sum
aggregation over all matched docs (summary.totalBytes,
metastore/models.py:116-117,153), regardless of pagination.

Spark-first shape: ONE job per request, like ES's one pass over the
matched docs — ``count(*)`` and ``sum(bytes)`` are observed on the
page's top-k scan; no second job, no cached copy of the filtered frame.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from metastore_spark.operators.paging import paginate


@dataclass
class Envelope:
    results: list[dict] = field(default_factory=list)
    total: int = 0
    total_bytes: float = 0.0
    error: str | None = None

    def to_dict(self) -> dict:
        out = {
            "results": self.results,
            "summary": {"total": self.total, "totalBytes": self.total_bytes},
        }
        if self.error is not None:
            out["error"] = self.error
        return out


def _summary_exprs(bytes_col: str | None) -> list[Column]:
    exprs = [F.count(F.lit(1)).alias("total")]
    if bytes_col is not None:
        exprs.append(F.sum(F.col(bytes_col).cast("double")).alias("total_bytes"))
    return exprs


def _summary(metrics: dict) -> tuple[int, float]:
    return int(metrics["total"]), float(metrics.get("total_bytes") or 0.0)


def summary_agg(filtered: DataFrame, bytes_col: str | None) -> tuple[int, float]:
    """count(*) + sum(bytes) in ONE aggregation job."""
    return _summary(filtered.agg(*_summary_exprs(bytes_col)).first().asDict())


def run_envelope(
    filtered: DataFrame,
    sort_cols: list[Column] | None,
    offset: int,
    size: int,
    bytes_col: str | None = None,
) -> Envelope:
    """One page + its summary in ONE job.

    Sort + offset + limit plans to TakeOrderedAndProjectExec, a bounded
    JVM top-k with no exchange above the observation: every row passes
    through result-stage tasks, whose accumulator updates Spark applies
    exactly once. Not so for a limit-0 page (an empty relation; the
    observation never fires) or an input already sorted on the page
    order (the top-k stops each partition early): those use
    ``summary_agg``. Reading the plan does not plan twice.
    """
    observation = Observation()
    observed_df = filtered.observe(observation, *_summary_exprs(bytes_col))
    page = paginate(observed_df, sort_cols, offset, size)
    plan = page._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    observed = plan.nodeName() == "TakeOrderedAndProject" and (
        plan.child().outputOrdering().isEmpty()
    )
    results = [r.asDict(recursive=True) for r in page.collect()]
    summary = _summary(observation.get) if observed else summary_agg(filtered, bytes_col)
    return Envelope(results, *summary)
