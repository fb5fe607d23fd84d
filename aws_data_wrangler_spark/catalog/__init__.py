"""Catalog module — Glue Data Catalog analog over the Spark catalog.

Ref: /root/reference/awswrangler/catalog/ (_add.py, _create.py,
_delete.py, _get.py, _utils.py). The reference drives the Glue API
with boto3; here the Spark session catalog (in-memory / Hive
metastore / Glue-via-EMR — same code) is the metastore, driven by
Spark SQL DDL, so every registered table is immediately queryable by
the athena module.
"""

from __future__ import annotations

import itertools
from typing import Any, Dict, List, Optional  # noqa: F401

from pyspark.sql import DataFrame, SparkSession

from aws_data_wrangler_spark._data_types import (
    athena2spark,
    athena_types_from_spark,
    sanitize_name,
    spark2athena,
)
from aws_data_wrangler_spark.exceptions import InvalidArgumentValue, InvalidTable
from aws_data_wrangler_spark.s3._fs import _active_spark, normalize_path

__all__ = [
    "add_csv_partitions",
    "add_parquet_partitions",
    "create_bucketed_table",
    "create_csv_table",
    "create_database",
    "create_parquet_table",
    "create_table",
    "databases",
    "delete_all_partitions",
    "delete_database",
    "delete_partitions",
    "delete_table_if_exists",
    "does_table_exist",
    "drop_duplicated_columns",
    "extract_athena_types",
    "get_columns_comments",
    "get_connection",
    "get_csv_partitions",
    "get_engine",
    "register_connection",
    "get_databases",
    "get_parquet_partitions",
    "get_partitions",
    "get_table_description",
    "get_table_location",
    "compute_statistics",
    "get_table_parameters",
    "get_table_types",
    "get_tables",
    "overwrite_table_parameters",
    "repair_table_partitions",
    "sanitize_column_name",
    "sanitize_dataframe_columns_names",
    "sanitize_table_name",
    "search_tables",
    "table",
    "tables",
    "upsert_table_parameters",
]


# ---------------------------------------------------------------- databases

def create_database(name: str, spark: Optional[SparkSession] = None) -> None:
    """Ref: /root/reference/awswrangler/catalog/_create.py ``create_database``."""
    _active_spark(spark).sql(f"CREATE DATABASE IF NOT EXISTS `{name}`")


def delete_database(name: str, spark: Optional[SparkSession] = None) -> None:
    """Ref: /root/reference/awswrangler/catalog/_delete.py ``delete_database``."""
    _active_spark(spark).sql(f"DROP DATABASE IF EXISTS `{name}` CASCADE")


def get_databases(spark: Optional[SparkSession] = None) -> List[str]:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``get_databases``."""
    return [db.name for db in _active_spark(spark).catalog.listDatabases()]


def databases(spark: Optional[SparkSession] = None) -> DataFrame:
    """Databases as a DataFrame (the reference returns a pandas frame).
    Ref: /root/reference/awswrangler/catalog/_get.py ``databases``."""
    return _active_spark(spark).sql("SHOW DATABASES")


# ------------------------------------------------------------------- tables

def _qualified(database: Optional[str], table_name: str) -> str:
    return f"`{database}`.`{table_name}`" if database else f"`{table_name}`"


def create_table(
    database: str,
    table: str,
    path: str,
    columns_types: Dict[str, str],
    partitions_types: Optional[Dict[str, str]] = None,
    table_format: str = "parquet",
    mode: str = "overwrite",
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
    **format_options: Any,
) -> None:
    """Register an external table over a dataset prefix.

    Generic core of the reference's ``create_parquet_table`` /
    ``create_csv_table`` (/root/reference/awswrangler/catalog/_create.py).
    """
    spark = _active_spark(spark)
    partitions_types = partitions_types or {}
    create_database(database, spark=spark)
    if mode == "overwrite":
        delete_table_if_exists(database, table, spark=spark)
    elif does_table_exist(database, table, spark=spark):
        return
    cols = []
    for name, athena_type in itertools.chain(columns_types.items(), partitions_types.items()):
        comment = f" COMMENT '{columns_comments[name]}'" if columns_comments and name in columns_comments else ""
        cols.append(f"`{name}` {athena2spark(athena_type).simpleString()}{comment}")
    ddl = [f"CREATE TABLE {_qualified(database, table)} ({', '.join(cols)})"]
    ddl.append(f"USING {table_format}")
    if format_options:
        opts = ", ".join(f"{k} '{v}'" for k, v in format_options.items())
        ddl.append(f"OPTIONS ({opts})")
    if partitions_types:
        ddl.append(f"PARTITIONED BY ({', '.join(f'`{c}`' for c in partitions_types)})")
    if description:
        ddl.append(f"COMMENT '{description}'")
    if parameters:
        props = ", ".join(f"'{k}'='{v}'" for k, v in parameters.items())
        ddl.append(f"TBLPROPERTIES ({props})")
    ddl.append(f"LOCATION '{normalize_path(path)}'")
    spark.sql(" ".join(ddl))


def create_parquet_table(
    database: str,
    table: str,
    path: str,
    columns_types: Dict[str, str],
    partitions_types: Optional[Dict[str, str]] = None,
    mode: str = "overwrite",
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
) -> None:
    """Ref: /root/reference/awswrangler/catalog/_create.py ``create_parquet_table``."""
    create_table(
        database, table, path, columns_types, partitions_types, "parquet", mode,
        description, parameters, columns_comments, spark,
    )


def create_csv_table(
    database: str,
    table: str,
    path: str,
    columns_types: Dict[str, str],
    partitions_types: Optional[Dict[str, str]] = None,
    mode: str = "overwrite",
    sep: str = ",",
    skip_header_line_count: int = 1,
    description: Optional[str] = None,
    parameters: Optional[Dict[str, str]] = None,
    columns_comments: Optional[Dict[str, str]] = None,
    spark: Optional[SparkSession] = None,
) -> None:
    """Ref: /root/reference/awswrangler/catalog/_create.py ``create_csv_table``."""
    create_table(
        database, table, path, columns_types, partitions_types, "csv", mode,
        description, parameters, columns_comments, spark,
        sep=sep, header="true" if skip_header_line_count else "false",
    )


def does_table_exist(database: str, table: str, spark: Optional[SparkSession] = None) -> bool:
    """Ref: /root/reference/awswrangler/catalog/_utils.py ``does_table_exist``."""
    return _active_spark(spark).catalog.tableExists(f"{database}.{table}")


def delete_table_if_exists(database: str, table: str, spark: Optional[SparkSession] = None) -> bool:
    """Ref: /root/reference/awswrangler/catalog/_delete.py ``delete_table_if_exists``."""
    spark = _active_spark(spark)
    existed = does_table_exist(database, table, spark=spark)
    spark.sql(f"DROP TABLE IF EXISTS {_qualified(database, table)}")
    return existed


def get_tables(
    database: Optional[str] = None,
    name_contains: Optional[str] = None,
    spark: Optional[SparkSession] = None,
) -> List[str]:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``get_tables``."""
    spark = _active_spark(spark)
    names = [t.name for t in spark.catalog.listTables(database)]
    if name_contains:
        names = [n for n in names if name_contains in n]
    return sorted(names)


def tables(
    database: Optional[str] = None,
    name_contains: Optional[str] = None,
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """Tables as a DataFrame. Ref: /root/reference/awswrangler/catalog/_get.py ``tables``."""
    spark = _active_spark(spark)
    df = spark.sql(f"SHOW TABLES IN `{database}`" if database else "SHOW TABLES")
    if name_contains:
        df = df.filter(df.tableName.contains(name_contains))
    return df


def search_tables(text: str, spark: Optional[SparkSession] = None) -> List[str]:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``search_tables``."""
    spark = _active_spark(spark)
    out = []
    for db in get_databases(spark=spark):
        out.extend(f"{db}.{t}" for t in get_tables(db, name_contains=text, spark=spark))
    return out


def table(database: str, table: str, spark: Optional[SparkSession] = None) -> DataFrame:
    """Column-level description of one table (name/type/partition/comment).
    Ref: /root/reference/awswrangler/catalog/_get.py ``table``."""
    spark = _active_spark(spark)
    if not does_table_exist(database, table, spark=spark):
        raise InvalidTable(f"{database}.{table}")
    rows = []
    for col in spark.catalog.listColumns(table, dbName=database):
        rows.append((col.name, col.dataType, col.isPartition, col.description))
    return spark.createDataFrame(rows, "column_name string, type string, partition boolean, comment string")


def get_table_types(database: str, table: str, spark: Optional[SparkSession] = None) -> Dict[str, str]:
    """{column: athena_type}. Ref: /root/reference/awswrangler/catalog/_get.py ``get_table_types``."""
    from pyspark.sql.types import _parse_datatype_string

    spark = _active_spark(spark)
    out = {}
    for col in spark.catalog.listColumns(table, dbName=database):
        out[col.name] = spark2athena(_parse_datatype_string(col.dataType))
    return out


def _describe_formatted(database: str, table: str, spark: SparkSession) -> Dict[str, str]:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {_qualified(database, table)}").collect()
    return {r.col_name.strip(): (r.data_type or "").strip() for r in rows if r.col_name}


def get_table_location(database: str, table: str, spark: Optional[SparkSession] = None) -> str:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``get_table_location``."""
    spark = _active_spark(spark)
    info = _describe_formatted(database, table, spark)
    if "Location" not in info:
        raise InvalidTable(f"{database}.{table} has no location")
    return info["Location"]


def get_table_description(database: str, table: str, spark: Optional[SparkSession] = None) -> Optional[str]:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``get_table_description``."""
    spark = _active_spark(spark)
    return _describe_formatted(database, table, spark).get("Comment")


def get_columns_comments(database: str, table: str, spark: Optional[SparkSession] = None) -> Dict[str, Optional[str]]:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``get_columns_comments``."""
    spark = _active_spark(spark)
    return {c.name: c.description for c in spark.catalog.listColumns(table, dbName=database)}


def compute_statistics(
    database: str,
    table: str,
    columns: Optional[List[str]] = None,
    spark: Optional[SparkSession] = None,
) -> Dict[str, str]:
    """``ANALYZE TABLE ... COMPUTE STATISTICS`` (+ ``FOR COLUMNS`` when
    given): feeds row-count/size and per-column NDV/min/max into the
    cost-based optimizer — on a 100 TB warehouse this is what lets
    Catalyst pick broadcast sides and join orders from real
    cardinalities instead of size guesses. Returns
    ``{"totalSize": bytes, "numRows": rows}`` parsed from the catalog
    entry (the reference keeps the same numbers in Glue table
    parameters; a Hive metastore stores them as
    ``spark.sql.statistics.*`` properties).
    """
    spark = _active_spark(spark)
    qualified = _qualified(database, table)
    spark.sql(f"ANALYZE TABLE {qualified} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {qualified} COMPUTE STATISTICS FOR COLUMNS "
            + ", ".join(columns)
        )
    out: Dict[str, str] = {}
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {qualified}").collect():
        if row.col_name == "Statistics":
            # "6447 bytes, 100 rows"
            for part in row.data_type.split(","):
                value, unit = part.strip().split(" ", 1)
                out["totalSize" if unit == "bytes" else "numRows"] = value
    return out


# --------------------------------------------------------- table parameters

def get_table_parameters(database: str, table: str, spark: Optional[SparkSession] = None) -> Dict[str, str]:
    """Ref: /root/reference/awswrangler/catalog/_get.py ``get_table_parameters``."""
    spark = _active_spark(spark)
    rows = spark.sql(f"SHOW TBLPROPERTIES {_qualified(database, table)}").collect()
    return {r.key: r.value for r in rows if not r.key.startswith("transient_")}


def upsert_table_parameters(
    parameters: Dict[str, str], database: str, table: str, spark: Optional[SparkSession] = None
) -> Dict[str, str]:
    """Ref: /root/reference/awswrangler/catalog/_create.py ``upsert_table_parameters``."""
    spark = _active_spark(spark)
    props = ", ".join(f"'{k}'='{v}'" for k, v in parameters.items())
    spark.sql(f"ALTER TABLE {_qualified(database, table)} SET TBLPROPERTIES ({props})")
    return get_table_parameters(database, table, spark=spark)


def overwrite_table_parameters(
    parameters: Dict[str, str], database: str, table: str, spark: Optional[SparkSession] = None
) -> Dict[str, str]:
    """Ref: /root/reference/awswrangler/catalog/_create.py ``overwrite_table_parameters``."""
    spark = _active_spark(spark)
    current = get_table_parameters(database, table, spark=spark)
    stale = [k for k in current if k not in parameters]
    if stale:
        keys = ", ".join(f"'{k}'" for k in stale)
        spark.sql(f"ALTER TABLE {_qualified(database, table)} UNSET TBLPROPERTIES IF EXISTS ({keys})")
    return upsert_table_parameters(parameters, database, table, spark=spark)


# -------------------------------------------------------------- partitions

def _sql_string(value: str) -> str:
    """``value`` as a SQL string literal: backslash and quote escaped, so
    a partition value like ``it's`` survives the DDL."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _partition_spec(columns: List[str], values: List[str]) -> str:
    return ", ".join(f"`{c}`={_sql_string(v)}" for c, v in zip(columns, values))


def _partition_columns(database: str, table: str, spark: SparkSession) -> List[str]:
    return [c.name for c in spark.catalog.listColumns(table, dbName=database) if c.isPartition]


def _add_partitions(
    database: str,
    table: str,
    columns: List[str],
    partitions_values: Dict[str, List[str]],
    spark: SparkSession,
) -> None:
    """Register every {location: spec values} entry with ONE
    ``ALTER TABLE … ADD IF NOT EXISTS PARTITION … LOCATION …`` statement
    (the command batches metastore RPCs itself)."""
    if not partitions_values:
        return
    clauses = " ".join(
        f"PARTITION ({_partition_spec(columns, values)}) "
        f"LOCATION {_sql_string(normalize_path(location))}"
        for location, values in partitions_values.items()
    )
    spark.sql(f"ALTER TABLE {_qualified(database, table)} ADD IF NOT EXISTS {clauses}")


def add_parquet_partitions(
    database: str,
    table: str,
    partitions_values: Dict[str, List[str]],
    spark: Optional[SparkSession] = None,
) -> None:
    """Register partition locations: {partition_dir_uri: [values...]}.
    Ref: /root/reference/awswrangler/catalog/_add.py ``add_parquet_partitions``."""
    spark = _active_spark(spark)
    _add_partitions(
        database, table, _partition_columns(database, table, spark), partitions_values, spark
    )


# CSV partitions are identical DDL; format is a table property.
add_csv_partitions = add_parquet_partitions


def get_partitions(
    database: str, table: str, spark: Optional[SparkSession] = None
) -> Dict[str, List[str]]:
    """{partition_location: [values...]}.
    Ref: /root/reference/awswrangler/catalog/_get.py ``get_partitions``."""
    spark = _active_spark(spark)
    part_cols = _partition_columns(database, table, spark)
    if not part_cols:
        return {}
    location = get_table_location(database, table, spark=spark).rstrip("/")
    out: Dict[str, List[str]] = {}
    for row in spark.sql(f"SHOW PARTITIONS {_qualified(database, table)}").collect():
        values = [kv.split("=", 1)[1] for kv in row.partition.split("/")]
        out[f"{location}/{row.partition}/"] = values
    return out


get_parquet_partitions = get_partitions
get_csv_partitions = get_partitions


def delete_partitions(
    database: str,
    table: str,
    partitions_values: List[List[str]],
    spark: Optional[SparkSession] = None,
) -> None:
    """Ref: /root/reference/awswrangler/catalog/_delete.py ``delete_partitions``."""
    spark = _active_spark(spark)
    part_cols = _partition_columns(database, table, spark)
    for values in partitions_values:
        spec = _partition_spec(part_cols, values)
        spark.sql(f"ALTER TABLE {_qualified(database, table)} DROP IF EXISTS PARTITION ({spec})")


def delete_all_partitions(database: str, table: str, spark: Optional[SparkSession] = None) -> List[List[str]]:
    """Ref: /root/reference/awswrangler/catalog/_delete.py ``delete_all_partitions``."""
    spark = _active_spark(spark)
    existing = list(get_partitions(database, table, spark=spark).values())
    delete_partitions(database, table, existing, spark=spark)
    return existing


def repair_table_partitions(database: str, table: str, spark: Optional[SparkSession] = None) -> None:
    """MSCK REPAIR — discover hive-layout partition dirs into the catalog.

    Dataset writes (``s3.to_parquet`` and its csv/json/orc twins)
    register only the partitions they wrote and never run this; call it
    to pick up partitions written some other way (another writer, a
    copy, a table re-created over existing data)."""
    _active_spark(spark).sql(f"MSCK REPAIR TABLE {_qualified(database, table)}")


def create_bucketed_table(
    df: DataFrame,
    database: str,
    table: str,
    bucket_cols: List[str],
    num_buckets: int = 32,
    sort_cols: Optional[List[str]] = None,
    mode: str = "overwrite",
    path: Optional[str] = None,
    spark: Optional[SparkSession] = None,
) -> None:
    """Write a table bucketed (and optionally sorted) by join keys.

    ``path`` makes the table external at that location (bucketBy
    requires saveAsTable; without a path the files land in the
    session's warehouse dir, which is cwd-relative on a bare session).

    Bucketing pre-shuffles the data at write time: two tables bucketed
    on the same keys with the same bucket count join WITHOUT a runtime
    exchange — the pattern for repeatedly-joined 100 TB fact tables,
    where one write-time shuffle amortizes across every later join.
    (Spark bucketing ≙ Glue/Athena bucketed tables; same layout idea.)
    """
    spark = _active_spark(spark)
    create_database(database, spark=spark)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(f"{database}.{table}")


# ------------------------------------------------------------- connections
# The reference resolves named connections from the Glue catalog
# (awswrangler/catalog/_get.py ``get_connection`` / ``get_engine``);
# outside AWS the registry is process-local.

_CONNECTIONS: Dict[str, Dict[str, Any]] = {}


def register_connection(
    name: str,
    db_type: str,
    host: str = "localhost",
    port: Optional[int] = None,
    database: str = "",
    user: str = "",
    password: str = "",
) -> None:
    """Store a named connection (Glue-connection analog)."""
    _CONNECTIONS[name] = {
        "db_type": db_type, "host": host, "port": port,
        "database": database, "user": user, "password": password,
    }


def get_connection(name: str) -> Dict[str, Any]:
    """Ref: awswrangler/catalog/_get.py ``get_connection``."""
    if name not in _CONNECTIONS:
        raise InvalidArgumentValue(f"unknown connection {name}")
    return dict(_CONNECTIONS[name])


def get_engine(connection: str, **overrides: Any):
    """Named connection → db.Engine. Ref: awswrangler/catalog/_get.py ``get_engine``."""
    from aws_data_wrangler_spark import db

    params = {**get_connection(connection), **overrides}
    return db.get_engine(**params)


# ------------------------------------------------------------------- utils

def sanitize_column_name(column: str) -> str:
    """Ref: /root/reference/awswrangler/catalog/_utils.py ``sanitize_column_name``."""
    return sanitize_name(column)


def sanitize_table_name(table: str) -> str:
    """Ref: /root/reference/awswrangler/catalog/_utils.py ``sanitize_table_name``."""
    return sanitize_name(table)


def sanitize_dataframe_columns_names(df: DataFrame) -> DataFrame:
    """Ref: /root/reference/awswrangler/catalog/_utils.py
    ``sanitize_dataframe_columns_names``."""
    return df.toDF(*[sanitize_name(c) for c in df.columns])


def drop_duplicated_columns(df: DataFrame) -> DataFrame:
    """Keep first occurrence of duplicate column names.
    Ref: /root/reference/awswrangler/catalog/_utils.py ``drop_duplicated_columns``."""
    from pyspark.sql import functions as F

    # duplicate names make name-based selection ambiguous: rename
    # positionally first, then select + restore the first occurrence
    tmp = df.toDF(*[f"__sg_c{i}" for i in range(len(df.columns))])
    seen: Dict[str, int] = {}
    for i, name in enumerate(df.columns):
        seen.setdefault(name, i)
    return tmp.select(
        *[F.col(f"__sg_c{i}").alias(name) for name, i in seen.items()]
    )


def extract_athena_types(df: DataFrame, partition_cols: Optional[List[str]] = None):
    """(columns_types, partitions_types) Athena DDL dicts for a DataFrame.
    Ref: /root/reference/awswrangler/catalog/_utils.py ``extract_athena_types``."""
    return athena_types_from_spark(df, partition_cols)


def get_table_versions(
    database: str, table: str, spark: Optional[SparkSession] = None
) -> List[Dict[str, Any]]:
    """Table versions, API-shaped like Glue's GetTableVersions
    (ref: /root/reference/awswrangler/catalog/_get.py
    ``get_table_versions``). Session/Hive catalogs don't version table
    metadata, so an existing table reports exactly one current version;
    a missing table reports none.
    """
    if not does_table_exist(database, table, spark=spark):
        return []
    return [
        {
            "VersionId": "0",
            "Table": {
                "DatabaseName": database,
                "Name": table,
                "Parameters": get_table_parameters(database, table, spark=spark),
            },
        }
    ]


def get_table_number_of_versions(
    database: str, table: str, spark: Optional[SparkSession] = None
) -> int:
    """Count of stored metadata versions for a table
    (ref: /root/reference/awswrangler/catalog/_get.py)."""
    return len(get_table_versions(database, table, spark=spark))
