"""Lineage accounting: per-stage live/dead row counts → Sankey data.

The reference counts rows after every filter with eager `len(df)` calls
(`catlas/filters.py:144-149`) and renders a Sankey diagram
(`catlas/sankey/sankey_utils.py:167-231`). Here counters are
``Observation``s attached to the running plan — they piggyback on the
single real action (zero extra jobs/scans), which is the only viable
form at 100 TB.

A counter is filled when the first action over the screen result
succeeds: a ``collect()``, ``toPandas()`` or ``count()`` fills all of
them before it returns, a write through the listener bus tens of
milliseconds after. ``Lineage.summary`` waits at most ``SUMMARY_WAIT_S``
for them and then names the stages still unfilled (no action ran, or it
failed) instead of blocking forever.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# how long ``Lineage.summary`` waits for counters an action is still filling
SUMMARY_WAIT_S = 2.0


@dataclass
class StageCount:
    name: str
    observation: Observation

    @property
    def filled(self) -> bool:
        return self.observation._jo.future().isCompleted()

    @property
    def counts(self) -> dict:
        return self.observation.get


@dataclass
class Lineage:
    stages: list[StageCount] = field(default_factory=list)

    def summary(self) -> list[dict]:
        """One dict per stage: rows and live rows (soft-delete aware).

        Raises ``RuntimeError`` naming the unfilled stages when the
        counters are not all filled within ``SUMMARY_WAIT_S``."""
        deadline = time.monotonic() + SUMMARY_WAIT_S
        unfilled = [s for s in self.stages if not s.filled]
        while unfilled and time.monotonic() < deadline:
            time.sleep(0.01)
            unfilled = [s for s in unfilled if not s.filled]
        if unfilled:
            raise RuntimeError(
                "lineage counters not filled (no action ran over the screen "
                f"result, or it failed): {[s.name for s in unfilled]}"
            )
        out = []
        for s in self.stages:
            got = dict(s.counts)
            out.append({"stage": s.name, **got})
        return out

    def sankey(self) -> dict:
        """Node/link structure for a Sankey renderer (same shape the
        reference feeds plotly — catlas/sankey/sankey_utils.py:167-231)."""
        summ = self.summary()
        nodes = [s["stage"] for s in summ]
        links = [
            {
                "source": i,
                "target": i + 1,
                # live_rows when the stage is soft-delete aware (r8
                # review): group_exists_mark sets filter_reason without
                # dropping rows, so raw `rows` stays constant through
                # screening stages and the diagram showed no attrition —
                # the reference Sankey's whole purpose
                "value": summ[i + 1].get("live_rows", summ[i + 1].get("rows", 0)),
            }
            for i in range(len(summ) - 1)
        ]
        return {"nodes": nodes, "links": links}


def attach_counter(df: DataFrame, stage: str, lineage: Lineage) -> DataFrame:
    """Attach an Observation counting rows (and live rows when a
    ``filter_reason`` column exists) at this point of the plan."""
    obs = Observation(f"stage_{stage}_{len(lineage.stages)}")
    metrics = [F.expr("count(1) AS rows")]
    if "filter_reason" in df.columns:
        metrics.append(
            F.expr("sum(CASE WHEN filter_reason IS NULL THEN 1 ELSE 0 END) AS live_rows")
        )
    out = df.observe(obs, *metrics)
    lineage.stages.append(StageCount(stage, obs))
    return out
