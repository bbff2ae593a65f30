"""Plan-time jq-subset compiler for aggregate fields.

Reference semantics: ``aggregate_fields`` compiles arbitrary jq
programs and extends each output field with every non-null result
(aggregate_fields.py:22-44). The shipped settings
(indexer-settings.yml:7-26) use exactly three program shapes:

* ``.field`` / ``.field?``      — top-level value (optional with ``?``)
* ``.field[]`` / ``.field[]?``  — splat a top-level array's elements
* ``..|objects|.field``         — recursive descent: the value of
  ``field`` on EVERY object at any depth (root included), document
  order

Our document is a DataFrame row with a *static* schema, so these
programs expand at plan time (SURVEY.md §7's "expand statically")
into pure Column expressions — the recursive descent becomes a
schema walk emitting ``getField`` / ``flatten(transform(...))``
chains, no jq runtime and no Python in the row path. Values are cast
to string (the aggregate fields are multivalued text fields); nulls
are filtered by the caller via ``array_compact``, mirroring the
reference's ``filter(lambda v: v is not None, ...)``
(aggregate_fields.py:42).

Deliberate narrowings (documented):

* recursive descent collects scalar and array-of-scalar matches only
  — an object-valued match is descended *into* but not itself emitted
  (the reference's configured fields all target scalar leaves);
* an array-of-scalar match is FLATTENED into its elements, whereas
  jq's ``.field`` yields the array as one result (which the reference
  then appends as a single value). Flattening is the useful behavior
  for multivalued Solr fields — each element becomes its own field
  value — so the divergence is kept on purpose (ADVICE r2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RECURSE_PREFIX = "..|objects|."


def _empty() -> Column:
    return F.array().cast("array<string>")


def _is_collectible(dtype: T.DataType) -> bool:
    """Scalar, or array of scalars — the value shapes a match emits."""
    if isinstance(dtype, T.ArrayType):
        return not isinstance(dtype.elementType, (T.ArrayType, T.StructType, T.MapType))
    return not isinstance(dtype, (T.StructType, T.MapType))


def _subtree_has(dtype: T.DataType, name: str) -> bool:
    if isinstance(dtype, T.StructType):
        return any(
            (f.name == name and _is_collectible(f.dataType)) or _subtree_has(f.dataType, name)
            for f in dtype.fields
        )
    if isinstance(dtype, T.ArrayType):
        return _subtree_has(dtype.elementType, name)
    return False


def _element_collector(element_type: T.DataType, name: str):
    # closure factory, NOT a default-arg lambda (pyspark binds a second
    # lambda parameter as the array index)
    return lambda el: _collect_any(el, element_type, name)


def _collect_any(col: Column, dtype: T.DataType, name: str) -> Column | None:
    """``array<string>`` of every ``name`` value under this subtree in
    jq's ``..`` object order, or None when the schema cannot match.

    Order contract: each object emits its OWN matching field first,
    THEN descends into its container fields in schema order — jq
    visits an object (applying ``.name``) before walking its children,
    regardless of where ``name`` sits among the fields."""
    if isinstance(dtype, T.StructType):
        parts: list[Column] = []
        for f in dtype.fields:  # self-match first (jq visits the object first)
            if f.name == name and _is_collectible(f.dataType):
                sub = col.getField(f.name)
                if isinstance(f.dataType, T.ArrayType):
                    parts.append(F.coalesce(sub.cast("array<string>"), _empty()))
                else:
                    parts.append(F.array(sub.cast("string")))
        for f in dtype.fields:  # then descend in field order
            if isinstance(f.dataType, (T.StructType, T.ArrayType)) and _subtree_has(
                f.dataType, name
            ):
                parts.append(_collect_any(col.getField(f.name), f.dataType, name))
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else F.concat(*parts)
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if not _subtree_has(et, name):
            return None
        return F.coalesce(
            F.flatten(F.transform(col, _element_collector(et, name))), _empty()
        )
    return None


def recursive_values(schema: T.StructType, name: str) -> Column:
    """``..|objects|.name`` over a row of ``schema`` (root object
    included)."""
    if not _subtree_has(schema, name):
        return _empty()
    return _collect_any(F.struct(*[F.col(c) for c in schema.fieldNames()]), schema, name)


def compile_path(schema: T.StructType, path: str) -> Column | None:
    """One jq program over a row of ``schema`` → an ``array<string>``
    Column of its results.

    Returns None for an optional path whose column is absent (the
    caller skips it). Raises for a required path with no column —
    fail-fast at plan time, the analog of the reference's compile-time
    IndexerError (aggregate_fields.py:33-36).
    """
    p = path.strip()
    optional = p.endswith("?")
    if optional:
        p = p[:-1]
    if p.startswith(_RECURSE_PREFIX):
        # absent-everywhere just yields no results in jq, so recursive
        # descent is inherently optional
        return recursive_values(schema, p[len(_RECURSE_PREFIX):])
    splat = p.endswith("[]")
    if splat:
        p = p[:-2]
    name = p[1:] if p.startswith(".") else p  # bare names = legacy round-1 syntax
    if name not in schema.fieldNames():
        if optional:
            return None
        raise ValueError(
            f"aggregate field path {path!r} requires column {name!r} "
            f"(available: {sorted(schema.fieldNames())})"
        )
    col = F.col(name)
    if splat:
        return F.coalesce(col.cast("array<string>"), _empty())
    return F.array(col.cast("string"))
