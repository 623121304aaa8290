"""airflow_jira_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference ETL project (``noepinefrin/airflow-jira-etl``,
read-only at ``/root/reference``) as an idiomatic Apache Spark engine:

* **Ingest layer** — the reference's operators (paginated REST scan,
  mapping-driven flatten/projection, keyed upsert, retry/idempotent
  replay) re-designed for Spark's distributed execution model
  (see ``operators/``, ``sources/``, ``sinks/``).
* **Query layer** — the analytic surface the reference's star schema
  exists to serve (joins, aggregations, windows, set ops, scalar
  function suites, structured streaming) plus large-scale
  training-data-pipeline operators (dedup, similarity search,
  text analysis) — see ``queries/``.

Everything is DataFrame/SQL-first so Catalyst + Tungsten own the
physical plan; Python only appears in explicitly-marked UDF surfaces.
"""

__version__ = "0.1.0"
