"""Alert-engine context: catalog binding + injected clock + options.

Replaces the reference's ``options`` dict of schema names threaded through every alert
(``/root/reference/src/alertas/main.py:21-31``) and its 14+ wall-clock call sites
(``current_date()``/``now()``, SURVEY §2.7) with one explicit context object:

* logical schemas (``exadata``, ``exadata_aux``, ``opengeo``, ``alertas``,
  ``alertas_compras``) bind to parquet directories under a warehouse root (tests /
  driver data) — on a cluster the same keys would bind to catalog databases;
* ``as_of`` is the injectable "today" — every date-relative predicate uses it, making
  alert runs reproducible (the reference's biggest testability defect, SURVEY §7).
"""

from __future__ import annotations

import datetime as dt
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.framework.catalog import Catalog, PathCatalog

SCHEMAS = ("exadata", "exadata_aux", "opengeo", "alertas", "alertas_compras")


@dataclass
class AlertContext:
    spark: SparkSession
    #: PathCatalog root; ignored when an explicit ``catalog`` is injected
    warehouse: str | None = None
    as_of: dt.date = dt.date(2024, 4, 15)
    #: ≙ CLI options (main.py:59): prescription near-miss threshold in days
    prescricao_limiar: int = 90
    #: ≙ the reference's dev-schema branch firing ABR1 in every month (alerta_abr1.py:23-26)
    abr1_all_months: bool = False
    #: storage binding (framework/catalog.py) — PathCatalog over ``warehouse`` by
    #: default; inject MetastoreCatalog to run against a Hive-style catalog
    #: (≙ base.py:10-14 enableHiveSupport + jobs.py:183-185 saveAsTable)
    catalog: Catalog | None = None
    _views: dict[str, DataFrame] = field(default_factory=dict)
    #: guards _views so concurrent alert builds (engine.run_all's staging
    #: pool) construct each shared base view exactly once — the eager cache
    #: + count in documentos_ativos must not run per thread.  REENTRANT:
    #: building documentos_ativos calls ctx.view("documento"/"vista") on the
    #: same thread (base_views.py:31), which re-enters this lock.
    _views_lock: threading.RLock = field(default_factory=threading.RLock,
                                         repr=False, compare=False)

    def __post_init__(self) -> None:
        if self.catalog is None:
            if self.warehouse is None:
                raise ValueError("AlertContext needs a warehouse dir or a catalog")
            self.catalog = PathCatalog(self.warehouse)

    # -- catalog ------------------------------------------------------------
    def table(self, schema: str, name: str) -> DataFrame:
        """≙ spark.table('<schema>.<table>') (jobs.py:190, alerta_bdpa.py:26)."""
        return self.catalog.table(self.spark, schema, name)

    def table_exists(self, schema: str, name: str) -> bool:
        return self.catalog.table_exists(self.spark, schema, name)

    def write_table(self, schema: str, name: str, df: DataFrame, mode: str = "overwrite",
                    partition_by: str | None = None, coalesce: int | None = None) -> None:
        self.catalog.write_table(self.spark, schema, name, df, mode=mode,
                                 partition_by=partition_by, coalesce=coalesce)

    def drop_table(self, schema: str, name: str) -> None:
        self.catalog.drop_table(self.spark, schema, name)

    # -- shared base views (≙ jobs.py:190-250) ------------------------------
    def view(self, name: str) -> DataFrame:
        """The shared base view ``name``, built once per context.

        Known stale case: ``documentos_ativos`` is cached and counted when
        first built, and ``engine.run_all``'s ``clearCache()`` unpersists it,
        but the frame stays here.  A second ``run_all`` on the same context
        (``nightly_batch``'s rerun phase) gets the uncached frame, so each
        consumer re-derives the anti-join chain inside its own plan.  It is
        left that way: IC1A, the one consumer in that workload, took
        1.26–1.57 s fresh (cache + count) against 0.78–0.86 s on a first-pass
        rerun (inline) on local[4], so re-caching would slow the rerun down.
        Production never hits it: ``main.py`` runs one ``run_all`` per
        context."""
        df = self._views.get(name)
        if df is None:
            with self._views_lock:
                df = self._views.get(name)
                if df is None:
                    from alertas_spark.framework.base_views import build_view

                    df = self._views[name] = build_view(self, name)
        return df

    # -- injected clock -----------------------------------------------------
    @property
    def as_of_col(self):
        """≙ current_date()."""
        return F.lit(self.as_of.isoformat()).cast("date")

    @property
    def as_of_ts(self):
        """≙ current_timestamp() / now() — midnight of as_of (the reference's
        datediff(current_timestamp(), x) counts whole days anyway)."""
        return F.lit(self.as_of.isoformat()).cast("timestamp")
