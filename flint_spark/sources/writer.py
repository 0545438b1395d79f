"""Time-partitioned sinks for the 100 TB layout.

``write_time_partitioned`` materializes a date-partition column and
writes parquet partitioned by it (plus optional extra keys), so later
``[begin, end)`` reads prune whole directories (partition pruning on
top of row-group pruning). ``write_bucketed`` persists a
bucket-by-key table so subsequent keyed aggregations on that key skip
their shuffle (Spark bucketing needs ``saveAsTable``); the union-window
as-of join still plans one exchange over bucketed scans.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..timeseries import TIME_COLUMN, ns_to_time_expr, time_ns_expr

PARTITION_COL = "__dt"


_GRANULARITY_FMT = {"1d": "yyyy-MM-dd", "1h": "yyyy-MM-dd-HH",
                    "1mo": "yyyy-MM", "1y": "yyyy"}


def write_time_partitioned(df: DataFrame, path: str, granularity: str = "1d",
                           extra_partition_cols: Sequence[str] = (),
                           mode: str = "overwrite") -> None:
    fmt = _GRANULARITY_FMT[granularity]
    dtype = dict(df.dtypes)[TIME_COLUMN]
    if dtype.startswith("timestamp"):
        dt = F.date_format(F.col(TIME_COLUMN).cast("timestamp"), fmt)
    else:
        ts = ns_to_time_expr(time_ns_expr(df), "timestamp")
        dt = F.date_format(ts, fmt)
    (df.withColumn(PARTITION_COL, dt)
       .write.mode(mode)
       .partitionBy(PARTITION_COL, *extra_partition_cols)
       .parquet(path))


def read_time_partitioned(spark, path: str, begin: str | None = None,
                          end: str | None = None) -> DataFrame:
    """Read back with directory-level pruning on the partition column."""
    df = spark.read.parquet(path)
    if begin is not None:
        df = df.filter(F.col(PARTITION_COL) >= begin)
    if end is not None:
        df = df.filter(F.col(PARTITION_COL) < end)
    return df.drop(PARTITION_COL)


def _location_owner(spark, loc: str) -> str | None:
    """Return the qualified name of any catalog table whose resolved
    Location is ``loc``, or None if no table claims it. The scan is
    bounded by catalog size (local metastores hold a handful of
    tables), and it is the safety check that keeps orphan cleanup from
    deleting a LIVE table's data under a name/location collision."""
    import os
    from urllib.parse import urlparse

    norm = os.path.normpath(loc)
    for d in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(d.name):
            try:
                rows = spark.sql(
                    f"DESCRIBE TABLE EXTENDED "
                    f"`{d.name}`.`{t.name}`").collect()
            except Exception:  # noqa: BLE001 — temp views etc.
                continue
            for r in rows:
                if r.col_name == "Location":
                    p = urlparse(r.data_type).path or r.data_type
                    if os.path.normpath(p) == norm:
                        return f"{d.name}.{t.name}"
    return None


def write_bucketed(df: DataFrame, table: str, key: Sequence[str],
                   n_buckets: int = 64, mode: str = "overwrite") -> None:
    """Bucket by key: downstream aggregations grouped on the same key
    skip their shuffle (storage-partitioned layout).
    ``mode='overwrite'`` also clears an ORPHANED managed-table
    location (a previous session's warehouse directory whose catalog
    entry died with that session) — otherwise saveAsTable fails with
    LOCATION_ALREADY_EXISTS even though the catalog has no table.
    Cleanup is defensive twice over: the directory is only touched if
    NO table in any database resolves to it (:func:`_location_owner`
    — a case-mismatched or external table registered elsewhere would
    otherwise lose its data), and it is renamed aside, never deleted,
    so a wrong resolution is recoverable."""
    if mode == "overwrite":
        import os
        import shutil
        from urllib.parse import urlparse

        spark = df.sparkSession
        # resolve the SAME qualified name both for the existence check
        # and the location: an unqualified name means the CURRENT
        # database, and a non-default db's managed location lives under
        # <warehouse>/<db>.db/<tbl> — deriving the path from the bare
        # table name would point into another table's directory
        parts = table.lower().split(".")
        db = parts[-2] if len(parts) >= 2 else \
            spark.catalog.currentDatabase().lower()
        tbl = parts[-1]
        if not spark.catalog.tableExists(f"{db}.{tbl}"):
            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path \
                or spark.conf.get("spark.sql.warehouse.dir")
            loc = os.path.join(wh, tbl) if db == "default" else \
                os.path.join(wh, f"{db}.db", tbl)
            if os.path.isdir(loc):
                owner = _location_owner(spark, loc)
                if owner is not None:
                    raise ValueError(
                        f"refusing orphan cleanup of {loc}: it is the "
                        f"live location of catalog table {owner} "
                        f"(write_bucketed target was {db}.{tbl})")
                aside = f"{loc}.orphaned"
                while os.path.exists(aside):
                    aside += ".x"
                shutil.move(loc, aside)
    (df.write.mode(mode)
       .bucketBy(n_buckets, *key)
       .sortBy(*key, TIME_COLUMN)
       .saveAsTable(table, format="parquet"))
