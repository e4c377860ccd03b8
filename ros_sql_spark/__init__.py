"""ros_sql_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of strawlab/ros_sql.

The reference (strawlab/ros_sql) records live ROS topic streams into a
relational database via SQLAlchemy and replays them byte-identically
(SURVEY.md §0).  This engine re-expresses those capabilities Spark-first:

- sources/   parquet + JDBC readers, engine metadata catalog
             (reference: scripts/record.py, models.py — SURVEY.md §2.1 R10/R12)
- functions/ type mapping, time split/recombine, DuckDB-parity helpers,
             text analysis (reference: factories.py type_map / time split —
             SURVEY.md §2.1 R2/R8)
- operators/ normalize/denormalize (message shredding/reassembly for
             the JDBC sink — reference factories.py msg2sql/sql2msg,
             SURVEY.md §2.1 R1/R4/R5/R11; parquet and snapshot stores
             keep messages nested), dedup, similarity search,
             multimodal columns
- plans/     the declared query suite (SURVEY.md §2.3) + DuckDB oracles
- streaming/ Structured Streaming twins of record/playback
             (reference: scripts/record.py, scripts/playback.py —
             SURVEY.md §2.1 R12/R13)

All query processing is declarative DataFrame/SQL so Catalyst supplies
pushdown, pruning, join selection, AQE — see SURVEY.md §4.2.
"""

__version__ = "0.1.0"

from ros_sql_spark.session import get_spark  # noqa: F401
