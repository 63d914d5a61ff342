"""Session staging: the one owner of reuse inside a Spark session.

Harness work that is identical on every run of a query (fixture
footer reads, corpus shingling, fixture slices written as parquet) is
done once per session. :func:`memo` and :func:`per_session` keep a
value a caller builds; :func:`stage_dir` writes a DataFrame once as
parquet, and :func:`land` hardlinks those files into a table or
stream source dir. All share one store, one session key
``(applicationId, id(spark))`` (a restarted context or a sibling
session shares nothing) and ``COUNTS``: ``{memo,dir}.{hit,miss}`` and
``dir.unkeyed``, i.e. staged links versus fresh writes.

What is keyed. A memo by the caller's tuple. A staged DataFrame by
:func:`fingerprint`: its schema, its analyzed plan with expression ids
(``#123``) stripped (a query function rebuilding the same frame mints
new ones), four content confs, its sorted input files and ``n_files``.

Why some plans get no key. Plan text pins rows only when every leaf
reads files: a local relation prints its attributes, not its rows; an
RDD leaf (a localCheckpoint) can hold other data under the same text;
``rand()``, ``uuid()``, ``current_timestamp`` or
``monotonically_increasing_id()`` differ between runs, and staging
would freeze one sample. File-less plans and plans hitting
``_UNPINNED_MARKERS`` are written fresh every time.

Why confs are in the key. The session time zone, ANSI casts and the
parquet datetime rebase modes change row content under one plan and
file set; flipping one must not reuse old bytes.

Lifetime. Staged dirs live under one process staging root, made on
first use and removed at exit. A hit also needs its dir to still hold
parquet files; one a tmp cleaner emptied is rebuilt. Staged files are
never modified in place (writers commit by rename, linked copies are
only unlinked), so sharing inodes is safe. The driver runs queries
serially, so the store has no lock.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import re
import shutil
import tempfile
from collections import Counter
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_STORE: dict[tuple, Any] = {}
COUNTS: Counter[str] = Counter()
_root: str | None = None

_CONTENT_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.parquet.datetimeRebaseModeInRead",
    "spark.sql.parquet.int96RebaseModeInRead",
)
#: lower-cased analyzed-plan text whose rows the text does not pin
_UNPINNED_MARKERS = (
    "rand(", "randn(", "uuid()", "current_timestamp", "current_date",
    "now()", "shuffle(", "localrelation", "localtablescan", "logicalrdd",
    "existingrdd", "scanexistingrdd", "monotonically_increasing_id",
)


def new_dir(prefix: str) -> str:
    """A fresh dir under the staging root."""
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="crs_staging_")
    os.makedirs(_root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_root)


@atexit.register
def purge() -> None:
    """Remove the staging root and every staged dir in it."""
    if _root is not None:
        shutil.rmtree(_root, ignore_errors=True)


def _staged_path(value: Any) -> str | None:
    """The staged dir a value names (itself or a tuple's first item)."""
    p = value[0] if isinstance(value, tuple) and value else value
    ok = isinstance(p, str) and _root is not None and p.startswith(_root + os.sep)
    return p if ok else None


def _live(value: Any) -> bool:
    p = _staged_path(value)
    return p is None or next(Path(p).rglob("*.parquet"), None) is not None


def memo(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()`` once per session and ``key``; later calls reuse it."""
    k = (spark.sparkContext.applicationId, id(spark)) + key
    value, outcome = _STORE.get(k), "hit"
    if k not in _STORE or not _live(value):
        value, outcome = build(), "miss"
        _STORE[k] = value
    COUNTS[("dir." if _staged_path(value) else "memo.") + outcome] += 1
    return value


def per_session(fn: Callable) -> Callable:
    """Decorate ``fn(spark, *args)`` to run once per session and args."""

    @functools.wraps(fn)
    def once(spark: SparkSession, *args, **kw):
        key = (fn.__module__, fn.__qualname__, *args, *sorted(kw.items()))
        return memo(spark, key, lambda: fn(spark, *args, **kw))

    return once


def fingerprint(df: DataFrame, n_files: int | None = None) -> tuple | None:
    """The store key of ``df`` written as ``n_files`` files, or None."""
    try:
        files = tuple(sorted(df.inputFiles()))
        if not files:
            return None
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(m in plan.lower() for m in _UNPINNED_MARKERS):
            return None
        conf = df.sparkSession.conf
        text = "\n".join(
            [df.schema.simpleString(), re.sub(r"#\d+", "#", plan)]
            + [str(conf.get(k, None)) for k in _CONTENT_CONFS]
        )
        return (hashlib.md5(text.encode()).hexdigest(), files, n_files)
    except Exception:
        return None


def _stage(df: DataFrame, n_files: int | None) -> tuple[str, bool]:
    def write() -> str:
        path = new_dir("crs_stage_") + "/w"
        (df if n_files is None else df.repartition(n_files)).write.parquet(path)
        return path

    key = fingerprint(df, n_files)
    if key is None:
        COUNTS["dir.unkeyed"] += 1
        return write(), False
    return memo(df.sparkSession, key, write), True


def stage_dir(df: DataFrame, n_files: int | None = None) -> str:
    """A parquet dir holding ``df`` (``n_files`` files when given)."""
    return _stage(df, n_files)[0]


def link_or_copy(src, dst) -> None:
    """Hardlink an immutable file; byte-copy where links fail."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy(src, dst)


def _link_all(src: str, dest: Path, name) -> list[str]:
    out: list[str] = []
    try:
        for i, p in enumerate(sorted(Path(src).glob("*.parquet"))):
            d = str(dest / (name(i) if name else p.name))
            link_or_copy(p, d)
            out.append(d)
    except OSError:
        for d in out:
            Path(d).unlink(missing_ok=True)
        raise
    return out


def land(df: DataFrame, dest_dir, n_files: int | None = None, name=None) -> list[str]:
    """Link ``df``'s staged parquet files into ``dest_dir`` and return
    the landed paths. ``name(i)`` names the i-th file; by default it
    keeps its staged name, which is unique per write job. A staged dir
    emptied after the hit check is dropped and written fresh, never
    landed empty; an unkeyed write is removed once linked."""
    dest = Path(dest_dir)
    dest.mkdir(parents=True, exist_ok=True)
    src, keyed = _stage(df, n_files)
    if keyed:
        try:
            out = _link_all(src, dest, name)
            if out:
                return out
        except OSError:
            pass
        # emptied or vanished after the hit check: drop it, write fresh
        shutil.rmtree(Path(src).parent, ignore_errors=True)
        src, keyed = _stage(df, n_files)
    try:
        return _link_all(src, dest, name)
    finally:
        if not keyed:
            shutil.rmtree(Path(src).parent, ignore_errors=True)
