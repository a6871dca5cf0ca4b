"""Sources & sinks (SURVEY.md §2.1). Parquet is the engine's native
table format (replacing the reference's HBase tables, S3/S6-S8);
csv/text readers cover the reference's ingestion surface (S1/S2)."""

from hadoop_project_spark.sources.csv import (  # noqa: F401
    FLIGHT_COLUMNS,
    flight_schema,
    read_flights_csv,
    read_pickups_csv,
)
from hadoop_project_spark.sources.text import write_kv_text  # noqa: F401
