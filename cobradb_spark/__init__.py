"""cobradb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference project SBRG/cobradb.

The reference (see SURVEY.md §0-§1) is a Python ETL package that loads
genome-scale metabolic models into a PostgreSQL catalog via SQLAlchemy;
its query semantics are PostgreSQL's and its own computation is ETL
dataflow (parse -> normalize IDs -> hash-dedup -> link via joins ->
upsert -> precompute counts).  This package re-expresses those semantics
Spark-first: explicit-schema DataFrames over Parquet, Catalyst-optimized
joins/aggregations/windows, plus streaming and LLM-data-pipeline
operators designed for 100 TB scale (SURVEY.md §2 is the contract).
"""

# No package-level re-exports: a Python worker unpickling one UDF, or the
# pydaemon worker daemon before it forks, imports this package, and must
# not pull in the whole query registry.  Import registry / session directly.
__version__ = "0.1.0"
