"""Workload definitions: which ops a workload runs, in what seeded
order, and how one op calls into the engine.

An op is one call a user of the engine would make:

- a registry query (``plans.registry.QUERIES[name]``) ending in a
  ``noop`` sink — one query, or one AvailableNow drain for the
  ``stream_*`` queries, which drain inside the callable;
- ``transform_stream``: one AvailableNow drain of
  ``pipelines.transform_stream`` over the 30-day raw zone, from a fresh
  checkpoint;
- ``etl_day``: one logical day of the reference pipeline —
  ``pipelines.extract_day`` → ``pipelines.transform_day`` →
  ``operators.merge.cdc_merge`` of that day's CDC batch into the
  parquet warehouse table, which is rewritten. Days run in calendar
  order and wrap after the 30th.

A pass is every op of the workload once (``etl_day`` ``days_per_pass``
times), in an order drawn from the seed; the closed loop runs whole
passes.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

ETL_DAY = "etl_day"
TRANSFORM_STREAM = "transform_stream"

# Layer each op is attributed to in the traced run: the engine module
# whose code does the op's work.
LAYER = {
    "tpch_q3_shipping_priority": "plans",
    "tpch_q6_forecast_revenue": "plans",
    "window_rolling_7d": "plans",
    "dedup_simhash": "operators.dedup",
    "sim_topk_batch": "operators.similarity",
    "text_quality": "operators.textstats",
    "decontaminate_ngram": "operators.decontaminate",
    "stream_tumbling_daily": "streaming",
    "stream_cdc_latest": "streaming",
    TRANSFORM_STREAM: "pipelines",
    ETL_DAY: "pipelines",
}

# Oracle for ops that are not registry queries: the streaming transform
# over the whole raw zone must equal the flagship over all of events.
ORACLE_OF = {TRANSFORM_STREAM: "material_demand"}


class Workload:
    """``ops``: the distinct ops of one pass; ``days_per_pass``: how
    many ``etl_day`` ops a pass holds; ``warm_passes``: set-up passes
    before timing (the first is ``warmup()``, the rest are ordinary
    passes that let the JIT settle); ``inputs``: the generated input
    parts (relative to the data dir) the workload reads, for
    ``bytes_stored_per_input_byte``."""

    def __init__(
        self, name: str, ops: list[str], days_per_pass: int,
        warm_passes: int, inputs: list[str],
    ):
        self.name = name
        self.ops = ops
        self.days_per_pass = days_per_pass
        self.warm_passes = warm_passes
        self.inputs = inputs

    def warmup(self) -> list[str]:
        """Every distinct op once (its output goes to the oracle gate)."""
        return self.ops + ([ETL_DAY] if self.days_per_pass else [])

    def passes(self, seed: int) -> Iterator[list[str]]:
        """Endless seeded passes; ``etl_day`` entries keep their
        relative (calendar) order by construction — they are
        interchangeable tokens filled with the next day at run time."""
        rng = random.Random(seed)
        while True:
            p = self.ops + [ETL_DAY] * self.days_per_pass
            rng.shuffle(p)
            yield p


# Why each workload and its op list: BENCHMARK.json.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_stream",
            ["stream_tumbling_daily", "stream_cdc_latest", TRANSFORM_STREAM],
            days_per_pass=1,
            warm_passes=2,
            inputs=["lake/events.parquet", "etl", "stream"],
        ),
        Workload(
            "analytics_curation",
            [
                "tpch_q3_shipping_priority", "tpch_q6_forecast_revenue",
                "window_rolling_7d", "dedup_simhash", "text_quality",
                "decontaminate_ngram", "sim_topk_batch",
            ],
            days_per_pass=0,
            warm_passes=6,
            inputs=["lake"],
        ),
    )
}
