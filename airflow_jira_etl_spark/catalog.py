"""Table catalog: explicit schemas + loaders for the fixture star schema.

The reference declares every schema twice (MAPPING dict + SQL DDL) and
reconciles by hand (``/root/reference/dags/jira/jira_base_processor.py:11``).
Here each table has ONE explicit ``StructType``; reads are schema-enforced
(no inference) so a drifting file fails loudly instead of silently
changing downstream types. At 100 TB, schema-on-read with inference is
both slow (footer sampling) and unsafe; explicit schemas are free.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def glob_escape(path: str) -> str:
    """``path`` with Hadoop glob metacharacters escaped, so it matches
    itself literally where Spark globs it: stream sources and batch
    ``read.parquet`` both do."""
    return "".join("\\" + c if c in "\\*?[]{}" else c for c in path)


def glob_free(name: str) -> str:
    """``name`` with every character outside ``[A-Za-z0-9._-]`` mapped
    to ``_``: a path segment derived from a fixture's name that later
    reads can pass to Spark unescaped."""
    return re.sub(r"[^A-Za-z0-9._-]", "_", name)


def source_tag(sf_dir: str) -> str:
    """Identity tag for per-source scratch/cache directories: readable,
    glob-free basename plus a short hash of the ABSOLUTE path. Basename
    alone is not an identity — two fixtures at /a/sf0.01 and /b/sf0.01
    would share one cache dir and, their content stamps differing,
    rebuild it back and forth under each other (cache thrash at best, a
    running reader's files unlinked at worst)."""
    import hashlib

    ap = os.path.abspath(os.path.normpath(sf_dir))
    return (
        f"{glob_free(os.path.basename(ap))}_"
        f"{hashlib.sha256(ap.encode()).hexdigest()[:8]}"
    )


def source_stamp(path: str) -> str:
    """Content stamp of a parquet source for cache invalidation. For a
    DIRECTORY-shaped table the stamp covers per-part (name, mtime_ns,
    size) — the directory's own stat does not change when a part file
    is rewritten in place, so stat'ing just the dir would serve stale
    caches after a fixture regeneration. The ONE staleness rule:
    file_schema's cache key and the ident of every
    scratch.source_cache artifact delegate here."""
    if os.path.isdir(path):
        parts = tuple(
            (f, s.st_mtime_ns, s.st_size)
            for f in sorted(os.listdir(path))
            if not f.startswith((".", "_"))
            for s in [os.stat(os.path.join(path, f))]
        )
        import hashlib

        return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]
    st = os.stat(path)
    return f"{st.st_mtime_ns}:{st.st_size}"


# (realpath, source_stamp) -> StructType; footer-only schema
# inference is cheap but load() is on every query's path, so memoize
# per source state. A regenerated fixture (new stamp) re-sniffs.
_FILE_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def file_schema(spark: SparkSession, path: str) -> T.StructType:
    """The file's OWN schema as Spark reads it (footer only). Ensures
    the engine's runtime confs first — without nanosAsLong an
    externally-built session CRASHES on a TIMESTAMP(NANOS) footer
    instead of sniffing it, and a conf-dependent sniff result must
    never enter the (conf-blind) cache."""
    from airflow_jira_etl_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    # source_stamp owns the staleness rule (per-part stats for a
    # directory — its own mtime/size do NOT change when a part file is
    # overwritten in place, e.g. a nanos↔micros ts flip across fixture
    # generations; plain stat for a single file). ONE implementation:
    # a fix to the rule must not have a second copy to miss.
    key = (os.path.realpath(path), source_stamp(path))
    if key not in _FILE_SCHEMA_CACHE:
        _FILE_SCHEMA_CACHE[key] = spark.read.parquet(glob_escape(path)).schema
    return _FILE_SCHEMA_CACHE[key]


def events_ts_is_nanos(spark: SparkSession, path: str) -> bool:
    """True when this events file stores ``ts`` as TIMESTAMP(NANOS)
    (surfaced as LongType under nanosAsLong=true), False for
    micro-precision files that read as a proper timestamp. The fixture
    generator has shipped both units across rounds; sniffing the footer
    instead of assuming one unit makes the engine layout-proof."""
    return isinstance(file_schema(spark, path)["ts"].dataType, T.LongType)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-enforced parquet scan of one fixture table. Applies the
    engine's required runtime confs first — every query funnels through
    here, so an externally-built SparkSession (the grading driver's)
    gets nanos-parquet/UTC semantics without our builder."""
    from airflow_jira_etl_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = table_path(sf_dir, name)
    declared = SCHEMAS[name]
    actual = file_schema(spark, path)
    pattern = glob_escape(path)
    actual_types = {f.name: f.dataType for f in actual.fields}
    missing = [f.name for f in declared.fields if f.name not in actual_types]
    if missing:  # a column we can't invent — fail loudly, not with NULLs
        raise ValueError(
            f"fixture {path} lacks declared columns {missing}; "
            f"file has {sorted(actual_types)}"
        )
    if all(
        actual_types[f.name] == f.dataType for f in declared.fields
    ) and len(actual.fields) == len(declared.fields):
        # fast path: physical layout matches the declared contract
        return spark.read.schema(declared).parquet(pattern)
    # PHYSICAL TYPE DRIFT (the r04 events-nanos incident, generalized):
    # the fixture generator may re-emit a column with a different but
    # value-compatible physical type (int32↔int64, float↔double, a new
    # timestamp unit) across rounds. Pinning the declared schema on the
    # reader would error or NULL-fill; instead read the file under its
    # OWN schema and cast to the declared logical types — queries keep
    # seeing the contract, whatever layout the round shipped.
    return conform(spark.read.schema(actual).parquet(pattern), declared)


def conform(raw: DataFrame, declared: T.StructType) -> DataFrame:
    """Project a frame read under its file's own schema onto the
    declared contract: column selection by name + logical casts. Shared
    by the batch loader and the streaming source — so the
    missing-column check lives HERE, where every caller passes (a
    drifted fixture lacking a declared column must fail with this
    message, not a KeyError or an unresolved-column exception)."""
    actual_types = {f.name: f.dataType for f in raw.schema.fields}
    missing = [f.name for f in declared.fields if f.name not in actual_types]
    if missing:
        raise ValueError(
            f"frame lacks declared columns {missing}; "
            f"it has {sorted(actual_types)}"
        )

    def conv(f: T.StructField):
        # TIMESTAMP(NANOS) surfaces as long under nanosAsLong: a plain
        # cast would read it as SECONDS — convert explicitly instead
        if isinstance(f.dataType, T.TimestampType) and isinstance(
            actual_types[f.name], T.LongType
        ):
            return F.timestamp_micros(
                F.expr(f"`{f.name}` div 1000")
            ).alias(f.name)
        return F.col(f.name).cast(f.dataType)

    return raw.select(*[conv(f) for f in declared.fields])


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
