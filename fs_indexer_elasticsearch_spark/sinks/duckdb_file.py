"""DuckDB-file interop sink/source (S8/S11).

The reference's persistent store is an embedded .duckdb file
(db_duckdb.py:157-268); downstream tools may still expect one. The
Spark-side table of record is the parquet SnapshotStore — this module
materializes a snapshot INTO a DuckDB file (and back) through a
single-partition Arrow handoff, for oracle interop and migration.

Driver-side by design: a .duckdb file is a single-writer embedded DB,
so at scale you export parquet and let DuckDB ATTACH/read it; this
helper is for modest result sets and test fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_duckdb(df: DataFrame, db_path: str, table: str) -> int:
    """Replace ``table`` in the DuckDB file with the DataFrame's rows
    (Arrow handoff). Returns the row count."""
    import duckdb

    adf = df.toArrow()  # Arrow Table via the Spark Arrow collect path
    con = duckdb.connect(db_path)
    try:
        con.register("_incoming", adf)
        con.execute(f'CREATE OR REPLACE TABLE "{table}" AS SELECT * FROM _incoming')
        n = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
        con.unregister("_incoming")
        return int(n)
    finally:
        con.close()


def read_duckdb(spark: SparkSession, db_path: str, table: str) -> DataFrame:
    """Load a DuckDB table into a DataFrame (Arrow handoff)."""
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        adf = con.execute(f'SELECT * FROM "{table}"').arrow()
    finally:
        con.close()
    return spark.createDataFrame(adf.to_pandas())


def store_scan_sql(store, version: int | None = None) -> str:
    """SQL that ANY DuckDB (no Spark, no this package) can run to read
    a SnapshotStore snapshot — the zero-copy external read path: the
    store's committed metadata already names the exact parquet files
    of every retained version, so an external tool queries the same
    immutable bytes Spark does, at any retained point in time.

    Reads the version manifest's file list and excludes the physical
    ``_bucket=`` partition column (``hive_partitioning=0`` — it is
    derivable layout detail, not data). This is the migration story
    for the reference's DuckDB-embedded users: keep the DuckDB
    tooling, point it at the store.

    The file list is pinned at CALL time: the returned SQL reads a
    specific immutable version, so a concurrent merge/vacuum cannot
    shift what it reads — re-call for a fresh pointer (and hold
    ``vacuum`` retention over the window you hand SQL to others)."""
    v = store.current_version() if version is None else version
    if v is None:
        raise ValueError(f"store at {store.path} has no committed version")
    if version is not None and version not in store.versions():
        raise ValueError(
            f"version {version} is not retained (have {store.versions()})"
        )
    # Absolute paths via the store's shared listing — handed-out SQL
    # must run from ANY working directory, not just the store's.
    files = store._version_data_files(v)
    if not files:
        # A fully-deleted snapshot still has a schema; emit an empty
        # relation with the recorded columns so SQL composes.
        fields = [f["name"] for f in store._read_commit(v)["schema"]["fields"]]
        cols = ", ".join(f'NULL AS "{n}"' for n in fields) or "NULL AS _empty"
        return f"SELECT {cols} WHERE 1=0"
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return (
        f"SELECT * FROM read_parquet([{quoted}], "
        "union_by_name=true, hive_partitioning=0)"
    )
