"""At-rest sidecar artifacts: one build/probe lifecycle for all of them.

An artifact is an ingest-time relation (a tokenize table, an index, a
stats row) that consumer queries read instead of re-deriving it. Every
artifact shares one lifecycle, implemented once here:

1. path: ``<base>/prs_<kind>_<basename(sf)>_<mtime>[suffix]``, where
   ``mtime`` is ``src_mtime`` of the source table, so a regenerated
   snapshot never reuses a stale artifact;
2. reuse: a directory holding ``_SUCCESS`` is complete and is not
   rebuilt;
3. build: into ``<path>.build-<pid>``, committed by one atomic rename,
   so no reader ever sees a partial directory; every build dir under
   the root whose process has died is removed by the next build there;
4. validate, then register: the artifact's ``open`` reads it back and
   raises ``Invalid`` if it is torn; only a valid artifact is
   registered under ``(session_key, sf, name)``. The default ``open``
   (and ``parts``) is ``read_footed``, a scan with the schema from a
   part file's footer, which starts no Spark job;
5. fail: any exception or rejection leaves the artifact unregistered,
   logs a warning and is reported with its reason. Consumers then
   self-derive, so a failure costs speed, never correctness.

Each sidecar module, ``tables`` for its relayout copies and its
bucketed layout, and ``operators.scale`` for its three inputs call
``declare`` once per artifact with its name, source table, directory
name and ``build``/``open`` functions, plus ``after`` when its build
reads another artifact. ``run`` is the one runner: it builds a list of
artifacts side by side and starts each only once its ``after``
artifacts are registered or have failed; ``ingest`` runs the sidecars
through it and ``tables.relayout`` the copies. Consumers call
``get(spark, sf, name)``: a dict lookup, no filesystem access and no
Spark job on the query path.

``hold`` is the per-query twin for in-session handles (persisted
frames, tmpfs sink dirs) that must outlive the call that returns a
lazy plan: each query's next call retires its own previous handle, and
interpreter exit retires the last ones. ``scratch`` is the one place a
query gets a directory to write into: a fresh one, held that way.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass
from pathlib import Path

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.util import inheritable_thread_target

log = logging.getLogger(__name__)


class Invalid(Exception):
    """Raised by an artifact's ``open`` when the stored relation fails
    its validation (torn or partial)."""


def _parquet_files(path: str) -> list[str]:
    """`path` itself when it is a file, else the part files Spark reads
    under the directory, partition subdirectories (``col=value``)
    included: names starting with ``_`` or ``.`` (``_SUCCESS``,
    checksums, in-flight files) are hidden from Spark and skipped."""
    if not os.path.isdir(path):
        return [path]
    return [
        f
        for n in sorted(os.listdir(path))
        if not n.startswith(("_", "."))
        for f in _parquet_files(os.path.join(path, n))
    ]


def footer_rows(path: str) -> int:
    """Row count of the parquet file at `path`, or of every part file
    under the directory at `path`, summed from the footers alone: no
    Spark job, ~1 ms where `count()` costs a scan job (SCALING.md).
    Exact for any file set a plan reads in full; a filtered frame still
    needs `count()`."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def read_footed(spark, path: str):
    """Parquet scan of the Spark-written files at `path`, with the
    schema Spark recorded in a part file's footer (the same one its
    inference would read back) instead of the schema-inference job
    `spark.read.parquet` runs: a scan that starts no job until it is
    acted on. A partitioned directory keeps the partition columns Spark
    derives from its ``col=value`` paths, after the footer's columns."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_schema(_parquet_files(path)[0]).metadata
    schema = StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
    )
    return spark.read.schema(schema).parquet(path)


def _read(spark, sf, path):
    return read_footed(spark, path)


def parts(*names):
    """An ``open`` for a multi-relation artifact: the tuple of its
    named subdirectories, read in order."""

    def read(spark, sf, path):
        return tuple(read_footed(spark, os.path.join(path, n)) for n in names)

    read.names = names  # the subdirectories, for a caller that lists them
    return read


@dataclass(frozen=True)
class Artifact:
    name: str
    source: str
    kind: str
    #: (spark, sf, path) -> None: writes the artifact under `path`
    build: Callable
    #: (spark, sf, path) -> value: reads it back, raises Invalid if torn
    open: Callable = _read
    #: (spark, sf) -> str appended to the path (geometry tags)
    suffix: Callable | None = None
    #: artifacts whose registration `build` reads when present
    after: tuple[str, ...] = ()


#: name -> declaration (filled at operator-module import)
DECLARED: dict[str, Artifact] = {}
#: (session_key, sf, name) -> (its directory, the value `open` returned)
_REGISTERED: dict[tuple, tuple[str, object]] = {}
#: query name -> the handle its previous call left alive
_HELD: dict[str, object] = {}


def declare(
    name, source, kind, build, open=_read, suffix=None, after=()
) -> None:
    DECLARED[name] = Artifact(name, source, kind, build, open, suffix, after)


def _session_key(spark) -> str:
    """Stable per-session registry key. `id(spark)` is unsafe: CPython
    can reuse the address for a NEW session after the old one is
    stopped, silently serving DataFrames bound to a dead SparkContext.
    The applicationId is unique per started context; fall back to id()
    only if the context is already gone (entries then die unused).
    Stopped from Python, `_jsc` is None (AttributeError); a failing JVM
    call raises Py4JJavaError. Stopped only on the JVM side, the
    context still reports its own (never reused) id. Anything else is a
    bug and propagates."""
    try:
        return spark.sparkContext.applicationId
    except (AttributeError, Py4JJavaError):  # key can't collide with a live one
        return f"dead-{id(spark)}"


def src_mtime(sf: str, name: str) -> int:
    """mtime tag of one driver table file (0 if absent), folded into
    every artifact path (`path`), so regenerating the snapshot gives
    its artifacts new directories instead of serving stale ones.
    Directory-shaped multi-file tables tag by the directory mtime,
    which every rewrite touches."""
    try:
        return int(os.path.getmtime(os.path.join(sf, f"{name}.parquet")))
    except OSError:
        return 0


def _key(spark, sf: str, name: str) -> tuple:
    return (_session_key(spark), sf, name)


def get(spark, sf: str, name: str):
    """The registered artifact value, or None (consumer self-derives)."""
    hit = _REGISTERED.get(_key(spark, sf, name))
    return None if hit is None else hit[1]


def lookup(session_key: str, sf: str, name: str) -> tuple[str, object] | None:
    """(directory, value) of a registered artifact, or None: `get` for a
    caller that already holds the session key or reads the files."""
    return _REGISTERED.get((session_key, sf, name))


def drop(spark, sf: str, name: str) -> None:
    """Unregister an artifact for this session (files stay on disk)."""
    _REGISTERED.pop(_key(spark, sf, name), None)


def path(spark, sf: str, name: str, base: str = "/dev/shm") -> str:
    a = DECLARED[name]
    tag = f"{os.path.basename(os.path.normpath(sf))}_{src_mtime(sf, a.source)}"
    extra = a.suffix(spark, sf) if a.suffix else ""
    return os.path.join(base, f"prs_{a.kind}_{tag}{extra}")


def _ready(out: str) -> bool:
    return os.path.exists(os.path.join(out, "_SUCCESS"))


def _reap(base: str) -> None:
    """Remove every ``prs_*.build-<pid>`` dir under `base` whose builder
    has died, whatever artifact it was building: no one will commit or
    remove it, and its name may be one no build produces again (an
    input that is gone). A live pid (or one this process may not
    signal) is a concurrent build and keeps its dir."""
    for n in os.listdir(base):
        head, _, pid = n.rpartition(".build-")
        if not head.startswith("prs_") or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, n), ignore_errors=True)
        except PermissionError:
            pass


def build(spark, sf: str, name: str, base: str = "/dev/shm") -> dict:
    """Build (or reuse) and register one artifact for snapshot `sf`.
    Idempotent. Returns the ingest report entry {ok, primed, seconds,
    reason}: `ok` is False when a step raised, `primed` is True when
    consumers will read the artifact, `reason` says why not."""
    t0 = time.time()
    key = _key(spark, sf, name)
    ok, reason, err, tmp = True, None, None, None
    if key not in _REGISTERED:
        a = DECLARED[name]
        try:
            if not os.path.isdir(base):
                raise FileNotFoundError(f"artifact root {base} is not a directory")
            _reap(base)
            out = path(spark, sf, name, base)
            if not _ready(out):
                tmp = f"{out}.build-{os.getpid()}"
                shutil.rmtree(tmp, ignore_errors=True)
                a.build(spark, sf, tmp)
                Path(tmp, "_SUCCESS").touch()
                try:
                    os.rename(tmp, out)
                except OSError:  # `out` exists and is not empty
                    if not _ready(out):
                        # torn or from an older layout: nothing this
                        # lifecycle committed. A complete one is a
                        # concurrent build's commit and is kept.
                        shutil.rmtree(out, ignore_errors=True)
                        os.rename(tmp, out)
            _REGISTERED[key] = (out, a.open(spark, sf, out))
        except Invalid as e:
            reason = f"rejected: {e}"
        except Exception as e:
            first = (str(e).strip().splitlines() or [""])[0]
            ok, reason, err = False, f"{type(e).__name__}: {first[:300]}", e
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        if reason is not None:
            log.warning(
                "artifact %s not primed for %s: %s", name, sf, reason, exc_info=err
            )
    return {
        "ok": ok,
        "primed": key in _REGISTERED,
        "seconds": round(time.time() - t0, 3),
        "reason": reason,
    }


def run(spark, sf: str, names, base: str = "/dev/shm") -> dict[str, dict]:
    """Build (or reuse) and register `names` for snapshot `sf` side by
    side, one thread each on a pool as wide as the session's
    ``defaultParallelism``, so Spark's scheduler fills the slots one
    build's small jobs leave idle with another build's tasks. A build
    starts once its declared ``after`` artifacts are registered or have
    failed. Returns {name: `build`'s report entry} in `names` order;
    builds overlap, so the per-artifact ``seconds`` can sum to more
    than the call's wall time."""

    def build_after(deps, name):
        wait(deps)
        return build(spark, sf, name, base)

    futures = {}
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:

        # an artifact is queued after its `after` artifacts, so a build
        # that waits on them waits only on builds already running
        # (the queue is FIFO) and the pool cannot deadlock
        def submit(name):
            if name not in futures:
                deps = [submit(d) for d in DECLARED[name].after]
                # wrapped per build: each gets its own copy of the
                # caller's local properties (job group, pool, tags)
                task = inheritable_thread_target(spark)(build_after)
                futures[name] = pool.submit(task, deps, name)
            return futures[name]

        for name in names:
            submit(name)
    return {name: futures[name].result() for name in names}


def _retire(handle) -> None:
    """A persisted DataFrame is unpersisted, a str is a directory and
    is removed."""
    if isinstance(handle, str):
        shutil.rmtree(handle, ignore_errors=True)
    elif handle is not None:
        try:
            handle.unpersist()
        except Py4JError:  # its session is already stopped
            pass


def hold(query: str, handle):
    """Keep `handle` alive until `query`'s next call, retiring the
    handle that call's predecessor left. Keyed by query, so one query
    never retires another's live handle."""
    _retire(_HELD.pop(query, None))
    _HELD[query] = handle
    return handle


def scratch(query: str) -> str:
    """A fresh directory for one call of `query` to write into, on
    tmpfs when present (no fsync on a throwaway write).

    Lifetime: a frame the call returns over this directory is readable
    until `query`'s next call, which removes the directory; interpreter
    exit removes the last one. A caller that keeps a result longer
    collects or persists it first."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return hold(query, tempfile.mkdtemp(prefix=f"prs_{query}_", dir=base))


@atexit.register
def _retire_held() -> None:
    """Retire every held handle: no query calls again after this, so
    the last tmpfs dirs would otherwise outlive the process."""
    while _HELD:
        _retire(_HELD.popitem()[1])
