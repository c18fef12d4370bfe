"""The two staging contracts: derived fixtures built once per fixture
generation and rebuilt when the source parquet changes.

Both key on ``sources.tables.source_fingerprint`` (size + mtime of the
source parquet), so a regenerated fixture is never shadowed by a stale
staged copy.

- **Directory stages** (``stage_once``): stream source dirs, kv text
  dirs, round-trip format copies under ``.tmp/``. The ``_STAGED``
  marker inside the directory records the fingerprint; a missing or
  different marker rebuilds the whole directory in a unique sibling
  temp dir, which is renamed into place, so readers never observe a
  half-written stage. Both the Spark file sources (hidden-file filter)
  and the kvtext reader skip the ``_``-prefixed marker.
- **Catalog tables** (``ensure_staged_table``): warehouse tables (LSH /
  ANN indexes, bucketed join sides, derived lifecycle state). The
  ``_SOURCE_FP`` marker in the table directory records the
  fingerprint. The default local catalog is session-scoped, so a fresh
  session ADOPTS intact, fingerprint-current files by registering an
  external table over them (``CREATE TABLE ... USING PARQUET
  [CLUSTERED BY ...] LOCATION ...``, metadata only) and otherwise
  builds. Bucket specs re-attach exactly (Spark re-reads bucket ids
  from the file names the bucketed write produced), so probe joins
  stay exchange-free on the index side; asserted in
  tests/test_bucketing.py.

Against a real shared metastore the adopt path is simply never taken;
the build-once-per-corpus-generation semantics stays the same.
"""
from __future__ import annotations

import os
import pathlib
import shutil
import uuid
from typing import Callable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def stage_once(
    stage: pathlib.Path, fp: str, build: Callable[[str], None]
) -> pathlib.Path:
    """Ensure directory ``stage`` holds the build for fingerprint ``fp``.

    If ``stage/_STAGED`` reads ``fp`` the stage is current and is
    returned untouched. Otherwise ``build(tmp)`` populates a fresh,
    already created sibling ``.build-<uuid>-<name>``; the marker is
    written into it, the stale stage removed and the temp dir renamed
    into place. On any failure the temp dir is removed; the error is
    re-raised unless a concurrent builder has meanwhile made the stage
    current.
    """
    if _is_current(stage, fp):
        return stage
    stage.parent.mkdir(parents=True, exist_ok=True)
    tmp = stage.parent / f".build-{uuid.uuid4().hex[:8]}-{stage.name}"
    tmp.mkdir()
    try:
        build(str(tmp))
        (tmp / "_STAGED").write_text(fp)
        shutil.rmtree(stage, ignore_errors=True)
        os.rename(tmp, stage)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        if not _is_current(stage, fp):
            raise
    return stage


def _is_current(stage: pathlib.Path, fp: str) -> bool:
    marker = stage / "_STAGED"
    return marker.is_file() and marker.read_text() == fp


def warehouse_dir(spark: SparkSession) -> pathlib.Path:
    return pathlib.Path(
        urlparse(
            spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        ).path
        or "spark-warehouse"
    )


def _has_parquet(path: pathlib.Path) -> bool:
    return path.is_dir() and any(
        p.suffix == ".parquet" or p.name.endswith(".snappy.parquet")
        for p in path.iterdir()
        if not p.name.startswith(("_", "."))
    )


def _register_external(
    spark: SparkSession,
    name: str,
    path: pathlib.Path,
    bucket_cols: Sequence[str] | None,
    sort_cols: Sequence[str] | None,
    buckets: int | None,
) -> None:
    """Adopt an existing staged directory as an external table --
    schema from the parquet footers (marker files start with '_' and
    are invisible to the scan), bucket spec re-declared verbatim so
    the catalog metadata matches the layout the original bucketed
    write produced."""
    ddl = spark.read.parquet(str(path)).schema.toDDL()
    clause = ""
    if bucket_cols:
        bs = ", ".join(bucket_cols)
        ss = ", ".join(sort_cols or bucket_cols)
        clause = (
            f" CLUSTERED BY ({bs}) SORTED BY ({ss})"
            f" INTO {buckets} BUCKETS"
        )
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING PARQUET{clause}"
        f" LOCATION '{path.resolve()}'"
    )


def ensure_staged_table(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataFrame],
    source_fp: str | None,
    bucket_cols: Sequence[str] | None = None,
    sort_cols: Sequence[str] | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Return table ``name``, staging it at most once per fixture
    generation:

    1. cataloged + fingerprint-current -> return it;
    2. cataloged but stale -> drop, fall through to rebuild;
    3. not cataloged, on-disk staging fingerprint-current -> ADOPT
       (external registration, metadata-only -- the fresh-session
       fast path);
    4. otherwise -> build() and bucketed-write, stamp the marker.
    """
    path = warehouse_dir(spark) / name
    marker = path / "_SOURCE_FP"
    fp_ok = (
        source_fp is not None
        and marker.exists()
        and marker.read_text() == source_fp
    )
    if spark.catalog.tableExists(name):
        if source_fp is None or fp_ok:
            return spark.table(name)
        spark.sql(f"DROP TABLE {name}")  # stale: marker mismatch
    if fp_ok and _has_parquet(path):
        _register_external(spark, name, path, bucket_cols, sort_cols, buckets)
        return spark.table(name)
    # a fresh session's catalog is empty even when a previous session
    # left the managed location on disk; saveAsTable refuses to reuse
    # it, so clear the disposable staging dir before rebuilding
    shutil.rmtree(path, ignore_errors=True)
    writer = build().write.mode("overwrite")
    if bucket_cols:
        writer = writer.bucketBy(buckets, *bucket_cols).sortBy(
            *(sort_cols or bucket_cols)
        )
    writer.saveAsTable(name)
    if source_fp is not None:
        marker.write_text(source_fp)
    return spark.table(name)
