"""Engine facade — the user-facing entry point (SURVEY.md §7 step 1).

Replaces the reference's REST control plane (template JSON mutations,
add_output.py:81-82) with a thin Python API over a SparkSession: register
the driver test tables, run SQL, fetch DataFrames, build CDC pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from snowflake_cdc_spark.session import get_spark

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class Engine:
    """Facade: table registry + SQL + pipeline construction."""

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()
        self._registered: dict[str, str] = {}

    # ---- table registry -------------------------------------------------

    def register_parquet(self, name: str, path: str) -> DataFrame:
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        self._registered[name] = path
        return df

    def register_dir(self, sf_dir: str, tables: list[str] | None = None) -> None:
        """Register every driver test table found in ``sf_dir``."""
        for name in tables or TPCH_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.register_parquet(name, path)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # ---- consistent generation reads (VERDICT r09 #7) --------------------

    def at_generation(self, sink, gen: int | None = None) -> "GenerationView":
        """One-call transactionally consistent view of a materialized
        store: every table at the versions ONE generation manifest pins
        (all-old or all-new under concurrent merges, never mixed)."""
        return GenerationView(self.spark, sink, gen)

    def register_generation(
        self, sink, gen: int | None = None, prefix: str = ""
    ) -> "GenerationView":
        """Register every table of one generation as temp views (named
        ``prefix + table``) so the consistent cut is queryable straight
        through ``Engine.sql``."""
        view = self.at_generation(sink, gen)
        for t in view.tables():
            view.table(t).createOrReplaceTempView(prefix + t)
        return view


class GenerationView:
    """A frozen, transactionally consistent view of a snapshot store at
    one committed generation (VERDICT r09 #7: the consistent-cut read as
    one user-facing call, not sink plumbing).

    The manifest is resolved ONCE at construction, so the view stays on
    its generation even while the store publishes new ones. It remains
    readable only within the retention horizon — after
    ``prune_generations`` drops this generation, reads raise
    ``GenerationRetentionError`` (and the versions it pinned become
    vacuumable)."""

    def __init__(self, spark: SparkSession, sink, gen: int | None = None):
        self.spark = spark
        self.sink = sink
        self.generation = (
            sink.current_generation() if gen is None else gen
        )
        self._manifest: dict[str, int] = sink.manifest(self.generation)

    def tables(self) -> list[str]:
        return sorted(self._manifest)

    def table(self, name: str) -> DataFrame:
        key = name if name in self._manifest else name.upper()
        if key not in self._manifest:
            raise KeyError(
                f"table {name!r} is not part of generation "
                f"{self.generation} (tables: {self.tables()})"
            )
        # the manifest is frozen at construction, so the retention check
        # must happen per READ: once prune_generations drops this
        # generation the documented contract is GenerationRetentionError
        # — not the bare version-not-found a vacuumed snapshot raises
        from snowflake_cdc_spark.sinks.parquet_sink import (
            GenerationRetentionError,
        )

        if self.generation not in self.sink.retained_generations():
            raise GenerationRetentionError(
                f"generation {self.generation} was pruned by the retention "
                f"policy (prune_generations / MaintenancePolicy."
                f"keep_generations) after this view was taken; retained "
                f"generations: {self.sink.retained_generations()}"
            )
        try:
            return self.sink.read_version(self.spark, key, self._manifest[key])
        except FileNotFoundError as e:
            if isinstance(e, GenerationRetentionError):
                raise
            raise GenerationRetentionError(
                f"version {self._manifest[key]} of {key!r} (pinned by "
                f"generation {self.generation}) is no longer on disk — "
                f"vacuumed outside the retention contract (vacuum must "
                f"run after prune_generations, from the writer's "
                f"maintenance turn)"
            ) from e
