"""Data-quality side outputs: named counters and reject reports.

The reference threads a ``Stats`` object through every flow
(``srm_tools/stats.py:71-110``): ``filter_with_stat(name, pred)`` drops rows,
counts the drops under a metric name, and can emit the rejects as a side
Report table. In Spark the counting rides the SAME job via ``df.observe``
(an AccumulatorV2 under the hood) — zero extra passes — and the reject rows
are the predicate's complement as a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class Stats:
    """Collects named observations; read them after the next action runs."""

    def __init__(self) -> None:
        self._observations: dict[str, Observation] = {}
        self._reports: dict[str, DataFrame] = {}

    def filter_with_stat(self, df: DataFrame, name: str, keep: Column, report: bool = False) -> DataFrame:
        """Filter `df` by `keep`, observing how many rows were dropped.

        The count is attached to the returned plan (no extra job). With
        ``report=True`` the rejected rows are also retained as a DataFrame
        under the same name (evaluated lazily, as a separate branch).
        """
        obs = Observation(name)
        # filter(keep) drops NULL-predicate rows too, so count drops as
        # NOT(coalesce(keep, false)) — a bare ~keep is NULL for NULL predicates
        # and would fall into otherwise(0), making seen != dropped + kept.
        kept_pred = F.coalesce(keep, F.lit(False))
        observed = df.observe(
            obs,
            F.sum(F.when(kept_pred, 0).otherwise(1)).alias("dropped"),
            F.count(F.lit(1)).alias("seen"),
        )
        self._observations[name] = obs
        if report:
            self._reports[name] = df.filter(~kept_pred)
        return observed.filter(keep)

    def get(self, name: str) -> dict:
        """Metric values for `name` (blocks until the observing job ran)."""
        return self._observations[name].get

    def report(self, name: str) -> DataFrame:
        return self._reports[name]

    def counters(self) -> DataFrame:
        """All finished counters as a (name, value) DataFrame — the shape the
        reference persists to its Stats table."""
        rows = []
        for name, obs in self._observations.items():
            try:
                rows.append((name, int(obs.get["dropped"])))
            except Exception:
                continue
        from ..session import get_spark  # noqa: PLC0415
        from ..sources.tables import local_table  # noqa: PLC0415

        return local_table(get_spark(), rows, "name string, value long")
