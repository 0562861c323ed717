"""SQLite-dialect functions re-expressed as Catalyst Column expressions.

These are the "custom work beyond Catalyst" items from SURVEY §4: the SQLite
affinity/date semantics and the dialect shims (GLOB, julianday, strftime,
group_concat). Everything stays JVM-side (pure Column expressions, no Python
UDFs) so whole-stage codegen applies at any scale.
"""

from sqlitedataframe_spark.functions.dialect import (
    glob_to_rlike,
    sqlite_glob,
    julianday,
    from_julianday,
    strftime,
    group_concat,
    unixepoch,
)

__all__ = [
    "glob_to_rlike",
    "sqlite_glob",
    "julianday",
    "from_julianday",
    "strftime",
    "group_concat",
    "unixepoch",
]
