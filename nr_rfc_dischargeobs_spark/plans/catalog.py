"""SQL surface: register the driver tables and every named plan as views.

The engine's plans are DataFrame-first, but a user coming from the reference
(or from any SQL tool) should be able to drive the same tables and operators
through ``spark.sql``.  ``register_tables`` exposes the parquet tables as
temp views (scans stay pushdown/prune-able — a temp view over a parquet scan
is transparent to Catalyst); ``register_queries`` exposes each
``__spark_entry__.queries()`` plan as a view so composed SQL can build on
named operators (e.g. ``SELECT * FROM a1_hourly_rollup_last_override WHERE
station_id = 'S1'`` — the outer predicate is pushed INTO the view's plan by
the optimizer).

Views are session-scoped metadata only — a view runs nothing until an
action.  Registering all 156 plans still builds each one, so the plans
that train a model or build an index run their build jobs then.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..errors import is_missing_path
from . import TABLES


def register_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Temp view per table of ``TABLES``; returns the registered names.  A
    table absent at this scale factor is skipped; any other read failure
    (a corrupt or unreadable table) raises."""
    from . import load

    registered = []
    for name in TABLES:
        try:
            load(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as ex:  # noqa: BLE001 — filtered below
            if is_missing_path(ex):
                continue  # table absent at this scale factor
            raise
        registered.append(name)
    return registered


def register_queries(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Temp view per named plan (default: all of ``queries()``, which
    runs every plan's build jobs).  A name that is not in ``queries()``
    raises ``ValueError`` before any view is registered."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    unknown = sorted(set(names or ()) - set(queries))
    if unknown:
        raise ValueError(f"no registered query named {unknown}")
    registered = []
    for name, fn in queries.items():
        if names is not None and name not in names:
            continue
        fn(spark, sf_dir).createOrReplaceTempView(name)
        registered.append(name)
    return registered
