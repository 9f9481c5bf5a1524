"""Engine facade: the one-object entry point a reference user switches to.

Mirrors the reference's usage shape (build data / compose operators /
pull results — SURVEY.md §3) on Spark: session management, schema-checked
I/O, SQL, the declared-query catalog, and the operator modules hang off a
single ``Engine`` handle.

    from dbkit_spark.engine import Engine

    eng = Engine()                            # tuned local session
    li = eng.table("/root/testdata/sf0.01", "lineitem")
    eng.register_tables("/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem")
    eng.run("q01_pricing_summary", "/root/testdata/sf0.01")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import QuerySpec, load_all
from .schema import TABLE_SCHEMAS
from .session import build_session
from .sources import read_table


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or build_session()
        self._catalog: dict[str, QuerySpec] | None = None

    # --- I/O ---------------------------------------------------------------
    def table(self, sf_dir: str, name: str) -> DataFrame:
        """Schema-checked fixture-table read (explicit StructType, never
        inference — SURVEY.md §1.5)."""
        return read_table(self.spark, sf_dir, name)

    def register_tables(self, sf_dir: str) -> None:
        """Register every fixture table as a temp view for ``sql()``."""
        for name in TABLE_SCHEMAS:
            self.table(sf_dir, name).createOrReplaceTempView(name)

    # --- query surface -----------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    @property
    def catalog(self) -> dict[str, QuerySpec]:
        if self._catalog is None:
            self._catalog = load_all()
        return self._catalog

    def run(self, query_name: str, sf_dir: str) -> DataFrame:
        """Run a declared catalog query (SURVEY.md §2 inventory); an
        unknown name raises ``KeyError``."""
        return self.catalog[query_name].fn(self.spark, sf_dir)

    def oracle(self, query_name: str) -> str | None:
        """The ANSI-SQL oracle for a declared query (None = rows-only)."""
        return self.catalog[query_name].oracle

    def stop(self) -> None:
        self.spark.stop()
