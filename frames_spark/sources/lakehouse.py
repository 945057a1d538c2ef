"""Delta Lake / Apache Iceberg adapter tier, gated on the external
packages (r11 verdict #6).

``sources/versioned.py`` gives snapshot isolation + time travel on
plain parquet; ``sources/sink.py`` gives MERGE/DELETE as staged
rewrites. On a real deployment a transactional table format provides
all of it natively with FILE-level copy-on-write instead of
table-level. This module is the 1:1 mapping onto that world:

  ==================  =====================  ============================
  plain-parquet tier  this module            native mechanism
  ==================  =====================  ============================
  write_versioned     write_table            transactional snapshot commit
  read_versioned      read_table(version=)   versionAsOf / VERSION AS OF
  versions/history    history                DESCRIBE HISTORY / .snapshots
  upsert_versioned /
  sink.merge_upsert   merge_upsert           MERGE INTO (file-level COW)
  sink.delete_rows    delete_rows            MERGE ... WHEN MATCHED DELETE
  vacuum              vacuum                 VACUUM / expire_snapshots
  ==================  =====================  ============================

Availability is a registry probe: probe the SAME registry Spark
consults for ``format("delta")`` / ``format("iceberg")`` once, then
raise an actionable deploy hint at the call site instead of Spark's
generic ClassNotFound. Neither
package ships in this container, so the Spark-touching paths are
exercised by skip-with-reason tests (the transformWithState
pattern); the SQL builders are pure functions and fully tested.

Identifier convention: Delta tables are addressed by PATH
(``delta.`path``` in SQL, ``format("delta").load(path)`` in the
reader); Iceberg tables are addressed by CATALOG IDENTIFIER
(``cat.db.tbl``) — Iceberg has no stable path-only addressing, it
requires a configured catalog. ``target`` below means whichever of
the two the chosen format expects.

Frames ref: no equivalent (lakehouse extension, SURVEY.md §2c).
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "delta_available",
    "iceberg_available",
    "format_available",
    "write_table",
    "read_table",
    "history",
    "merge_upsert",
    "delete_rows",
    "vacuum",
]

_HINTS = {
    "delta": (
        "Delta Lake is not on the classpath. Add io.delta:delta-spark_2.13:"
        "<version> via spark.jars.packages and set "
        "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension, "
        "spark.sql.catalog.spark_catalog="
        "org.apache.spark.sql.delta.catalog.DeltaCatalog, then restart "
        "the session."
    ),
    "iceberg": (
        "Apache Iceberg is not on the classpath. Add "
        "org.apache.iceberg:iceberg-spark-runtime-<spark>_2.13:<version> "
        "via spark.jars.packages and configure a catalog "
        "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
        "+ its warehouse), then restart the session."
    ),
}

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def format_available(fmt: str) -> bool:
    """True when ``format(fmt)`` would resolve — the registry Spark
    itself consults (a bare Class.forName is too loose). Deliberately
    uncached: availability is a property of the ACTIVE session
    (jars/extensions can differ between sessions in one process), and
    the lookupDataSource probe is cheap."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"no active SparkSession to probe for {fmt}")
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # noqa: SLF001
            fmt, spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def delta_available() -> bool:
    return format_available("delta")


def iceberg_available() -> bool:
    return format_available("iceberg")


def _require(fmt: str) -> None:
    if fmt not in _HINTS:
        raise ValueError(f"format must be delta|iceberg, got {fmt!r}")
    if not format_available(fmt):
        raise RuntimeError(_HINTS[fmt])


_view_seq = itertools.count()


def _temp_view(prefix: str) -> str:
    """A per-call unique temp-view name, so merge/delete never clobber
    (or drop, via the finally) a same-named user view, and concurrent
    calls in one session cannot collide."""
    return f"{prefix}_{next(_view_seq)}"


def _sql_ref(target: str, fmt: str) -> str:
    """The SQL-addressable form of ``target``: Delta paths become
    ``delta.`path``` (already-qualified identifiers pass through);
    Iceberg targets must be catalog identifiers."""
    if fmt == "delta":
        if _IDENT.match(target):
            return target
        escaped = target.replace("`", "``")
        return f"delta.`{escaped}`"
    if not _IDENT.match(target):
        raise ValueError(
            f"iceberg targets are catalog identifiers (cat.db.tbl), got"
            f" {target!r} — Iceberg has no path-only addressing; configure"
            " a catalog (see module docstring)"
        )
    return target


def _merge_upsert_sql(
    target: str, keys: list[str], cols: list[str], fmt: str, source: str
) -> str:
    """MERGE INTO … WHEN MATCHED UPDATE SET * / NOT MATCHED INSERT *
    — identical semantics to sink.merge_upsert's anti-join + union,
    executed as the format's file-level copy-on-write."""
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"keys {missing} not in update columns {cols}")
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    return (
        f"MERGE INTO {_sql_ref(target, fmt)} t USING {source} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def _delete_rows_sql(target: str, keys: list[str], fmt: str, source: str) -> str:
    """Keyed delete as MERGE … WHEN MATCHED THEN DELETE (the portable
    form — plain SQL DELETE cannot join against a key frame)."""
    if not keys:
        raise ValueError("delete_rows needs at least one key column")
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    return (
        f"MERGE INTO {_sql_ref(target, fmt)} t USING {source} s ON {on} "
        "WHEN MATCHED THEN DELETE"
    )


def write_table(df: DataFrame, target: str, fmt: str = "delta",
                mode: str = "overwrite") -> None:
    """``write_versioned`` equivalent: one transactional snapshot
    commit (readers of older snapshots are untouched; no pointer
    file, the format's log IS the pointer)."""
    _require(fmt)
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if fmt == "delta" and not _IDENT.match(target):
        df.write.format("delta").mode(mode).save(target)
    elif mode == "overwrite":
        df.writeTo(target).using(fmt).createOrReplace()
    else:
        df.writeTo(target).append()


def read_table(
    spark: SparkSession,
    target: str,
    fmt: str = "delta",
    version: int | None = None,
    timestamp: str | None = None,
) -> DataFrame:
    """``read_versioned`` equivalent with native time travel:
    ``version`` is Delta's versionAsOf / Iceberg's snapshot-id,
    ``timestamp`` the as-of timestamp string (at most one)."""
    _require(fmt)
    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")
    reader = spark.read.format(fmt)
    if fmt == "delta":
        if version is not None:
            reader = reader.option("versionAsOf", version)
        if timestamp is not None:
            reader = reader.option("timestampAsOf", timestamp)
        if _IDENT.match(target):
            return reader.table(target)
        return reader.load(target)
    if version is not None:
        reader = reader.option("snapshot-id", version)
    if timestamp is not None:
        reader = reader.option("as-of-timestamp", timestamp)
    return reader.table(_sql_ref(target, fmt))


def history(spark: SparkSession, target: str, fmt: str = "delta") -> DataFrame:
    """``versions`` equivalent: the format's commit log as a frame
    (DESCRIBE HISTORY / the .snapshots metadata table)."""
    _require(fmt)
    if fmt == "delta":
        return spark.sql(f"DESCRIBE HISTORY {_sql_ref(target, fmt)}")
    return spark.read.table(f"{_sql_ref(target, fmt)}.snapshots")


def merge_upsert(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    keys: list[str],
    fmt: str = "delta",
) -> None:
    """Native MERGE INTO — same contract as sink.merge_upsert (update
    matched rows wholesale, insert the rest) but file-level COW: only
    files containing matched keys rewrite, unmatched files are
    untouched metadata-side. THIS is the 100 TB merge path."""
    _require(fmt)
    view = _temp_view("frames_spark_merge_updates")
    updates.createOrReplaceTempView(view)
    try:
        spark.sql(_merge_upsert_sql(target, keys, updates.columns, fmt, view))
    finally:
        spark.catalog.dropTempView(view)


def delete_rows(
    spark: SparkSession,
    target: str,
    delete_keys: DataFrame,
    keys: list[str],
    fmt: str = "delta",
) -> None:
    """Native keyed delete — same contract as sink.delete_rows
    (right-to-erasure), rewriting only the files that contain
    matching keys."""
    _require(fmt)
    view = _temp_view("frames_spark_delete_keys")
    delete_keys.select(*keys).distinct().createOrReplaceTempView(view)
    try:
        spark.sql(_delete_rows_sql(target, keys, fmt, view))
    finally:
        spark.catalog.dropTempView(view)


def vacuum(
    spark: SparkSession,
    target: str,
    fmt: str = "delta",
    retain_hours: int = 168,
) -> None:
    """``vacuum`` equivalent: physically drop files only unreferenced
    snapshots hold (Delta VACUUM / Iceberg expire_snapshots)."""
    _require(fmt)
    if fmt == "delta":
        spark.sql(
            f"VACUUM {_sql_ref(target, fmt)} RETAIN {int(retain_hours)} HOURS"
        )
        return
    _sql_ref(target, fmt)  # validate identifier first (actionable error)
    if "." not in target:
        raise ValueError(
            f"iceberg vacuum needs a catalog-qualified identifier"
            f" (cat.db.tbl), got {target!r}"
        )
    catalog, table = target.split(".", 1)
    spark.sql(
        f"CALL {catalog}.system.expire_snapshots("
        f"table => '{table}', "
        f"older_than => now() - INTERVAL {int(retain_hours)} HOURS)"
    )
