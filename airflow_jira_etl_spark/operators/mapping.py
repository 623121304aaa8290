"""MAPPING compiler — the reference's core transform, Spark-first.

The reference flattens nested API JSON one Python dict at a time with a
recursive interpreter (``map_response_to_database_format``,
``/root/reference/dags/jira/jira_base_processor.py:65-106``). Instead of
interpreting per row, we COMPILE the same declarative MAPPING dict into
a list of Catalyst column expressions once, then run it as a single
``df.select(...)`` — vectorized, codegen'd, and column-pruned at the
parquet/JSON scan. At 100 TB this is the difference between a Python
loop per record and a JVM whole-stage-codegen pipeline.

Semantics preserved exactly (cited to the reference):

* unmapped keys are dropped (``jira_base_processor.py:88-91``) —
  expressed as "only mapped paths appear in the select", which Catalyst
  turns into column pruning at the source;
* nested dicts recurse with a ``parent_key_`` prefix built from the RAW
  json keys, while the leaf name comes from the MAPPING
  (``jira_base_processor.py:94-96``), e.g. ``author.accountId -> author_id``;
* list values are joined into a single ``'//'``-delimited string
  (``jira_base_processor.py:98-100``) — ``concat_ws`` over a
  cast-to-string ``transform``;
* missing keys produce NULL columns (the reference produces narrower
  per-row INSERTs whose absent columns become SQL NULLs — same
  observable table state, see SURVEY.md §2A).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

Mapping = dict[str, "str | Mapping"]

JOIN_CHAR = "//"


def _leaf_name(parent: str, mapped: str) -> str:
    return f"{parent}_{mapped}" if parent else mapped


def compile_mapping(
    mapping: Mapping,
    schema: T.StructType,
    path: str = "",
    parent: str = "",
) -> list[Column]:
    """Compile a declarative MAPPING dict into select expressions.

    ``schema`` is the StructType of the input at the current nesting
    level; it is used to (a) emit NULL for paths absent from the data
    and (b) detect array leaves that need the ``'//'`` join.
    """
    if not path and not parent:
        # top-level call: reject duplicate FLAT output names up front.
        # Two leaves resolving to one name (e.g. {'id': 'id', 'fields':
        # {'id': 'fields_id'}} is fine, but {'id': 'id', 'key': 'id'}
        # is not) would emit two identically-aliased columns — a later
        # select raises AMBIGUOUS_REFERENCE and a parquet write fails
        # with 'Found duplicate column(s)', both far from the
        # misconfigured mapping. The reference's dict-assignment
        # interpreter silently lets the LAST leaf win
        # (jira_base_processor.py:96 record[name] = value) — a silent
        # overwrite that hides the config bug; raising here is the
        # deliberate divergence.
        names = _flat_names(mapping, "")
        dups = sorted({n for n in names if names.count(n) > 1})
        if dups:
            raise ValueError(
                f"MAPPING resolves multiple leaves to the same flat "
                f"column name(s) {dups} — rename the mapped targets "
                f"(the reference would silently keep only the last)"
            )
    cols: list[Column] = []
    fields = {f.name: f for f in schema.fields}
    for key, mapped in mapping.items():
        # raw API keys are arbitrary strings: backtick-quote every path
        # segment so a key containing '.' (or '`') resolves as ONE field,
        # not as extra nesting
        child_path = f"{path}.{_quote(key)}" if path else _quote(key)
        field = fields.get(key)
        if isinstance(mapped, dict):
            # branch missing from the data, OR present but not a struct
            # (API shape drift): the reference requires isinstance(value,
            # dict) and otherwise SKIPS the key (jira_base_processor.py
            # :94-96) — which surfaces as SQL NULLs, never as a crash on
            # `a.b` over a non-struct. An empty schema makes every leaf
            # below it a missing (NULL) one.
            child_schema = (
                field.dataType
                if field is not None and isinstance(field.dataType, T.StructType)
                else T.StructType([])
            )
            cols.extend(
                compile_mapping(mapped, child_schema, child_path, _chain(parent, key))
            )
        else:
            name = _leaf_name(parent, mapped)
            if field is None:
                cols.append(F.lit(None).cast("string").alias(name))
            elif isinstance(field.dataType, T.ArrayType):
                # concat_ws maps a NULL array to '' — but a missing
                # path must stay NULL (the reference emits no column,
                # which surfaces as SQL NULL; SURVEY.md §2A note).
                # NULL ELEMENTS render as 'None', exactly the
                # reference's '//'.join(map(str, value)) — concat_ws
                # alone would silently DROP them, losing positions
                arr = F.col(child_path)
                joined = F.concat_ws(
                    JOIN_CHAR,
                    F.transform(
                        arr,
                        lambda x: F.coalesce(x.cast("string"), F.lit("None")),
                    ),
                )
                cols.append(
                    F.when(arr.isNull(), F.lit(None)).otherwise(joined).alias(name)
                )
            else:
                cols.append(F.col(child_path).alias(name))
    return cols


def _quote(key: str) -> str:
    """Backtick-quote one column-path segment (backticks double-escaped,
    per Spark identifier quoting)."""
    return "`" + key.replace("`", "``") + "`"


def _chain(parent: str, key: str) -> str:
    return f"{parent}_{key}" if parent else key


def _flat_names(mapping: Mapping, parent: str) -> list[str]:
    """Every flat output name a mapping resolves to, in declaration
    order — the same naming walk as compile_mapping."""
    out: list[str] = []
    for key, mapped in mapping.items():
        if isinstance(mapped, dict):
            out.extend(_flat_names(mapped, _chain(parent, key)))
        else:
            out.append(_leaf_name(parent, mapped))
    return out


def flatten(df: DataFrame, mapping: Mapping) -> DataFrame:
    """Apply a compiled MAPPING to a DataFrame of (possibly nested) rows."""
    return df.select(*compile_mapping(mapping, df.schema))


def mapping_to_schema(
    mapping: Mapping, leaf_types: dict[str, T.DataType] | None = None
) -> T.StructType:
    """Derive a StructType for ``from_json`` from a MAPPING dict.

    Leaf types default to StringType; override per flat output name via
    ``leaf_types``. Used to parse raw JSON page payloads with an explicit
    schema (never inference — see catalog.py).

    CONTRACT: a leaf whose API values are LISTS must be declared
    ``ArrayType`` via ``leaf_types`` to receive the reference's ``'//'``
    join — under the StringType default, ``from_json`` surfaces a JSON
    array as its raw text (``'["a","b"]'``), not as ``'a//b'``. The
    mapping dict alone cannot know which fields are lists; the caller
    owning the endpoint's shape declares them, the same way it owns
    ``records_key``.
    """
    leaf_types = leaf_types or {}

    def build(m: Mapping, parent: str) -> T.StructType:
        fields = []
        for key, mapped in m.items():
            if isinstance(mapped, dict):
                fields.append(T.StructField(key, build(mapped, _chain(parent, key))))
            else:
                name = _leaf_name(parent, mapped)
                fields.append(
                    T.StructField(key, leaf_types.get(name, T.StringType()))
                )
        return T.StructType(fields)

    return build(mapping, "")
