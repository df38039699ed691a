"""At-rest sidecar artifacts: one build/probe lifecycle for all of them.

An artifact is an ingest-time relation (a tokenize table, an index, a
stats row) that consumer queries read instead of re-deriving it. Every
artifact shares one lifecycle, implemented once here:

1. path: ``<base>/prs_<kind>_<basename(sf)>_<mtime>[suffix]``, where
   ``mtime`` is ``tables.src_mtime`` of the source table, so a
   regenerated snapshot never reuses a stale artifact;
2. reuse: a directory holding ``_SUCCESS`` is complete and is not
   rebuilt;
3. build: into ``<path>.build-<pid>``, committed by one atomic rename,
   so no reader ever sees a partial directory;
4. validate, then register: the artifact's ``open`` reads it back and
   raises ``Invalid`` if it is torn; only a valid artifact is
   registered under ``(session_key, sf, name)``;
5. fail: any exception or rejection leaves the artifact unregistered,
   logs a warning and is reported with its reason. Consumers then
   self-derive, so a failure costs speed, never correctness.

Each sidecar module calls ``declare`` once with its name, source
table, directory name and ``build``/``open`` functions, plus ``after``
when its build reads another artifact (``ingest`` starts it only once
those are registered or have failed). Consumers call
``get(spark, sf, name)``: a dict lookup, no filesystem access and no
Spark job on the query path.

``hold`` is the per-query twin for in-session handles (persisted
frames, tmpfs sink dirs) that must outlive the call that returns a
lazy plan: each query's next call retires its own previous handle, and
interpreter exit retires the last ones.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from py4j.protocol import Py4JError

from pandas_reporter_spark.tables import _session_key, src_mtime

log = logging.getLogger(__name__)


class Invalid(Exception):
    """Raised by an artifact's ``open`` when the stored relation fails
    its validation (torn or partial)."""


def _read(spark, sf, path):
    return spark.read.parquet(path)


def parts(*names):
    """An ``open`` for a multi-relation artifact: the tuple of its
    named subdirectories, read in order."""

    def read(spark, sf, path):
        return tuple(spark.read.parquet(os.path.join(path, n)) for n in names)

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
#: (session_key, sf, name) -> the value `open` returned
_REGISTERED: dict[tuple, object] = {}
#: query name -> the handle its previous call left alive
_HELD: dict[str, object] = {}


def declare(
    name, source, kind, build, open=_read, suffix=None, after=()
) -> None:
    DECLARED[name] = Artifact(name, source, kind, build, open, suffix, after)


def get(spark, sf: str, name: str):
    """The registered artifact value, or None (consumer self-derives)."""
    return _REGISTERED.get((_session_key(spark), sf, name))


def drop(spark, sf: str, name: str) -> None:
    """Unregister an artifact for this session (files stay on disk)."""
    _REGISTERED.pop((_session_key(spark), sf, name), None)


def path(spark, sf: str, name: str, base: str = "/dev/shm") -> str:
    a = DECLARED[name]
    tag = f"{os.path.basename(os.path.normpath(sf))}_{src_mtime(sf, a.source)}"
    extra = a.suffix(spark, sf) if a.suffix else ""
    return os.path.join(base, f"prs_{a.kind}_{tag}{extra}")


def _ready(out: str) -> bool:
    return os.path.exists(os.path.join(out, "_SUCCESS"))


def build(spark, sf: str, name: str, base: str = "/dev/shm") -> dict:
    """Build (or reuse) and register one artifact for snapshot `sf`.
    Idempotent. Returns the ingest report entry {ok, primed, seconds,
    reason}: `ok` is False when a step raised, `primed` is True when
    consumers will read the artifact, `reason` says why not."""
    t0 = time.time()
    key = (_session_key(spark), sf, name)
    ok, reason, err, tmp = True, None, None, None
    if key not in _REGISTERED:
        a = DECLARED[name]
        try:
            if not os.path.isdir(base):
                raise FileNotFoundError(f"artifact root {base} is not a directory")
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
            _REGISTERED[key] = a.open(spark, sf, out)
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


@atexit.register
def _retire_held() -> None:
    """Retire every held handle: no query calls again after this, so
    the last tmpfs dirs would otherwise outlive the process."""
    while _HELD:
        _retire(_HELD.popitem()[1])
