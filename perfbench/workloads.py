"""The benchmark's workloads: their op lists, inputs and result checks.

An *op* is one timed call.  For a suite query it is the query callable
(``build``) plus a ``noop`` sink (``action``).  A *pass* runs a
workload's op list once: the cold first pass in list order, every later
pass in an order the runner draws from the seed.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import ClassVar

import gen

# suite_mix: registered suite queries across operator families, each with
# a DuckDB oracle, in the order of the cold first pass.
SUITE_MIX = [
    "duplicated_ngram_spans",  # corpus dedup, eager driver-side rounds
    "pricing_summary",  # TPC-H Q1-style aggregate
    "similarity_lsh_topk",  # LSH similarity search
    "text_quality_scores",  # text quality signals
    "streaming_hourly_counts",  # availableNow micro-batch stream
]


@dataclass
class Workload:
    data_dir: str
    seed: int
    # Untimed whole passes before timing starts, the first of them cold.
    # Each workload's count is where its measured pass times stop falling
    # (perfbench/NOTES.md, "Warm-up").
    warmup_passes: ClassVar[int]

    def generate(self) -> dict:
        raise NotImplementedError

    def ops(self) -> list[tuple[str, Callable, Callable]]:
        """``(name, build(spark) -> df, action(df))`` in pass order."""
        raise NotImplementedError

    def check(self, spark, last: dict[str, object]) -> dict[str, bool]:
        """Op name -> result correct, from the DataFrame each op built in
        the last timed pass."""
        raise NotImplementedError


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class SuiteMix(Workload):
    """Registered suite queries over the generated sf0.01-size tables."""

    warmup_passes = 9

    def generate(self) -> dict:
        return {"tables": gen.write_tables(self.data_dir, self.seed)}

    def ops(self):
        from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

        return [(n, self._build_fn(QUERIES[n]), _noop) for n in SUITE_MIX]

    def _build_fn(self, query):
        data_dir = self.data_dir
        return lambda spark: query.spark(spark, data_dir)

    def check(self, spark, last):
        from automated_batch_data_pipeline_nyc_spark.suite import QUERIES
        from tests.oracle_harness import compare

        return {name: compare(name, df, QUERIES[name].oracle, self.data_dir).ok for name, df in last.items()}


_MODEL_SQL = """
SELECT CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
            WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
            ELSE 'Other' END AS time_bucket,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
FROM clean
GROUP BY 1, 2
"""
_CLEAN_SQL = """
CREATE VIEW clean AS SELECT DISTINCT * FROM read_parquet('{path}')
WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
  AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
"""


class MonthlyPipeline(Workload):
    """One month of events: read -> reference pipeline -> day-partitioned
    sink of the enriched rows -> transaction-log commit of the model."""

    warmup_passes = 7

    @property
    def month_path(self) -> str:
        return os.path.join(self.data_dir, "month.parquet")

    def _out(self, name: str) -> str:
        return os.path.join(self.data_dir, "out", name)

    def generate(self) -> dict:
        os.makedirs(self.data_dir, exist_ok=True)
        return gen.write_month(self.month_path, self.seed)

    def ops(self):
        from pyspark.sql import functions as F

        # module attributes, looked up per call, so traced runs see the spans
        from automated_batch_data_pipeline_nyc_spark import plans, sources
        from automated_batch_data_pipeline_nyc_spark.sources import txlog

        def build(spark):
            events = sources.read_parquet(spark, self.month_path)
            return plans.run_reference_pipeline(spark, events, checkpoint_dir=self._out("checkpoints"))

        def action(results):
            enriched = results["enrich"].withColumn("day", F.to_date("ts"))
            sources.write_parquet(enriched, self._out("enriched"), partition_by=["day"])
            txlog.commit(results["model"], self._out("model"), mode="overwrite")

        return [("monthly_pipeline", build, action)]

    def check(self, spark, last):
        import duckdb

        from automated_batch_data_pipeline_nyc_spark.sources.txlog import read_table
        from tests.oracle_harness import canonicalize

        con = duckdb.connect()
        try:
            con.execute(_CLEAN_SQL.format(path=self.month_path))
            want_model = canonicalize(con.execute(_MODEL_SQL).df())
            want_rows = con.execute("SELECT COUNT(*) FROM clean").fetchone()[0]
        finally:
            con.close()
        got_model = canonicalize(read_table(spark, self._out("model")).toPandas())
        got_rows = spark.read.parquet(self._out("enriched")).count()
        return {"monthly_pipeline": got_model.equals(want_model) and got_rows == want_rows}


WORKLOADS = {"monthly_pipeline": MonthlyPipeline, "suite_mix": SuiteMix}
