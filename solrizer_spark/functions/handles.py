"""Handle-system identifier parsing/formatting as Column expressions.

Reference semantics (handles/__init__.py:18-101 + indexers/handles.py:25-49):
a handle is ``{prefix}/{suffix}``; accepted input forms are
``hdl:{p}/{s}``, ``info:hdl/{p}/{s}``, ``{proxy_base}{p}/{s}``, and
bare ``{p}/{s}``; output forms are the hdl URI, the info URI, and a
proxy URL. Unparseable values → null struct (the reference raises
HandleValueError; a 10^12-row pipeline quarantines instead).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_PROXY_BASE = "http://hdl.handle.net/"


def parse_handle(value: Column | str, proxy_base: str = DEFAULT_PROXY_BASE) -> Column:
    """Parse to ``struct(prefix, suffix)``; null when unparseable
    (empty prefix/suffix or no '/' — split_as_handle semantics,
    handles/__init__.py:6-15)."""
    col = F.col(value) if isinstance(value, str) else value
    body = (
        F.when(col.startswith("hdl:"), F.substring(col, 5, 10000))
        .when(col.startswith("info:hdl/"), F.substring(col, 10, 10000))
        .when(col.startswith(proxy_base), F.substring(col, len(proxy_base) + 1, 10000))
        .otherwise(col)
    )
    prefix = F.substring_index(body, "/", 1)
    suffix = F.substring(body, F.length(prefix) + 2, 10000)
    ok = (
        body.contains("/")
        & (F.length(F.trim(prefix)) > 0)
        & (F.length(F.trim(suffix)) > 0)
    )
    return F.when(ok, F.struct(prefix.alias("prefix"), suffix.alias("suffix")))


def handle_str(handle: Column) -> Column:
    return F.concat(handle["prefix"], F.lit("/"), handle["suffix"])


def hdl_uri(handle: Column) -> Column:
    return F.concat(F.lit("hdl:"), handle_str(handle))


def proxy_url(handle: Column, proxy_base: str = DEFAULT_PROXY_BASE) -> Column:
    return F.concat(F.lit(proxy_base), handle_str(handle))


def handle_fields(value: Column | str, proxy_base: str = DEFAULT_PROXY_BASE) -> Column:
    """The three handle fields the reference emits
    (indexers/handles.py:25-49: handle__id, handle__uri,
    handle_proxied__uri) as one struct."""
    h = parse_handle(value, proxy_base)
    return F.when(
        h.isNotNull(),
        F.struct(
            handle_str(h).alias("handle_id"),
            hdl_uri(h).alias("handle_uri"),
            proxy_url(h, proxy_base).alias("handle_proxied_uri"),
        ),
    )
