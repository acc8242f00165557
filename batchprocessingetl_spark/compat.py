"""Interpreter shims: a protobuf runtime alias, and lazy zip-cache
invalidation for Python workers.

PySpark 4's ``transformWithState`` Python state server speaks
protobuf (``pyspark/sql/streaming/proto/StateMessage_pb2.py``), but
this container has no ``google.protobuf`` wheel and package installs
are disallowed. A pure-python protobuf runtime IS on the box, vendored
by other public software (Google Cloud SDK ships protobuf 4.23.2
under ``third_party/cloudsdk/google/protobuf``, self-importing as
``cloudsdk.google.protobuf``). :func:`ensure_protobuf` aliases that
runtime to the canonical ``google.protobuf`` module names and supplies
the one module it predates — ``google.protobuf.runtime_version``, the
protobuf-5.x generator/runtime version gate — as a no-op validator.

Trade-off made explicit: skipping ``ValidateProtobufRuntimeVersion``
means the 6.33-generated StateMessage descriptors load on a 4.23
runtime without the upstream compatibility promise; the proto is
plain proto3 (no editions/extensions), and the parity test
(tests/test_streaming_state.py) pins an end-to-end message exchange,
which is the check that actually matters here. In any environment
with a real ``google.protobuf`` install the shim is a no-op.

pyspark's worker calls ``importlib.invalidate_caches()`` once per
task; before CPython 3.12 that re-reads the central directory of every
``zipimporter`` in the worker (pyspark.zip, py4j, the spark-core jar:
0.2–0.3 s a task on a 4-core host). :func:`lazy_zip_invalidation`
makes that re-read happen only when the archive on disk changed.

Worker processes: Spark's Python workers are separate interpreters,
so nothing done in the driver reaches them. ``worker_pythonpath``
returns a directory whose ``sitecustomize.py`` applies both shims at
interpreter startup; the session factory always prepends it to
``PYTHONPATH`` before the JVM starts.
"""

from __future__ import annotations

import importlib
import os
import sys
import types

# Public-software locations that vendor a pure-python protobuf runtime.
# Each entry: (sys.path root, package prefix the vendored copy imports
# itself as).
_VENDORED_RUNTIMES = (
    ("/usr/lib/google-cloud-sdk/lib/third_party", "cloudsdk.google.protobuf"),
)


class _AliasFinder:
    """Meta-path finder mapping ``google.protobuf[.X]`` — and ONLY
    those names (ADVICE r11: never claim bare ``google``, which would
    shadow a real google namespace package and break google.auth /
    google.cloud style distributions) — onto an already-importable
    vendored copy, returning the SAME module objects: never a second
    load of the same file, which would fork descriptor classes and
    break isinstance checks inside the runtime ("Expected instance of
    descriptor.X")."""

    _CANON = "google.protobuf"

    def __init__(self, prefix: str) -> None:
        self._prefix = prefix  # e.g. cloudsdk.google.protobuf

    def find_spec(self, name, path=None, target=None):
        if name == self._CANON or name.startswith(self._CANON + "."):
            import importlib.util

            return importlib.util.spec_from_loader(name, self)
        return None

    def create_module(self, spec):
        return importlib.import_module(
            self._prefix + spec.name[len(self._CANON):]
        )

    def exec_module(self, module):  # module pre-executed under its real name
        pass


class _DynamicNamespacePath:
    """Recomputed-per-access ``__path__`` for a synthesized namespace
    parent: iterating yields every ``<sys.path entry>/<pkg>`` directory
    that exists AT IMPORT TIME, so subpackages that become importable
    after the parent was synthesized (pip install, sys.path append)
    still resolve — the behavior stdlib namespace packages get from
    ``importlib._bootstrap_external._NamespacePath``."""

    def __init__(self, pkg: str) -> None:
        self._pkg = pkg
        self._memo_key: tuple = ()
        self._memo: list[str] = []

    def _paths(self) -> list[str]:
        # non-str entries (bytes, importer objects some tools inject)
        # would TypeError inside os.path.join and break every google.*
        # import (ADVICE r13); the scan is memoized on the sys.path
        # tuple so __len__/__getitem__ loops don't re-stat the world
        key = tuple(e for e in sys.path if isinstance(e, str))
        if key != self._memo_key:
            out = []
            for entry in key:
                cand = os.path.join(entry or ".", self._pkg)
                if os.path.isdir(cand):
                    out.append(cand)
            self._memo_key, self._memo = key, out
        return self._memo

    def __iter__(self):
        return iter(self._paths())

    def __len__(self) -> int:
        return len(self._paths())

    def __getitem__(self, i):
        return self._paths()[i]

    def __repr__(self) -> str:
        return f"_DynamicNamespacePath({self._pkg!r}, {self._paths()!r})"


def _ensure_google_parent(pb) -> None:
    """Make ``import google.protobuf`` work without displacing a real
    ``google`` namespace package: graft the vendored protobuf onto the
    existing parent when one imports, else synthesize an empty
    namespace-style parent. Only ``google.protobuf`` attributes are
    touched."""
    google_mod = sys.modules.get("google")
    if google_mod is None:
        try:
            google_mod = importlib.import_module("google")
        except ImportError:
            google_mod = types.ModuleType("google")
            # pkgutil-style DYNAMIC namespace path (ADVICE r12): a
            # frozen [] would permanently block google.* subpackages
            # installed / sys.path-added later in the process; this
            # recomputes the candidate dirs on every import attempt,
            # like stdlib _NamespacePath does for real namespace pkgs
            google_mod.__path__ = _DynamicNamespacePath("google")
            sys.modules["google"] = google_mod
    google_mod.protobuf = pb


def _alias_runtime(root: str, prefix: str) -> bool:
    if not os.path.isdir(root):
        return False
    if root not in sys.path:
        sys.path.insert(0, root)
    try:
        pb = importlib.import_module(prefix)
    except ImportError:
        return False
    # runtime_version (protobuf >= 5.1) — 6.x-generated code imports it
    # from the parent package by the parent's OWN __name__, so register
    # the no-op validator under the vendored name (the alias finder
    # covers the canonical name).
    if not hasattr(pb, "runtime_version"):
        rv = types.ModuleType(prefix + ".runtime_version")

        class Domain:  # mirrors google.protobuf.runtime_version.Domain
            GOOGLE_INTERNAL = 1
            PUBLIC = 2

        rv.Domain = Domain
        rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
        sys.modules[prefix + ".runtime_version"] = rv
        pb.runtime_version = rv
    # a failed earlier `import google.protobuf...` can strand a partial
    # module — purge ONLY the protobuf subtree (ADVICE r11: other
    # google.* distributions must keep their loaded modules)
    for leftover in [
        m
        for m in sys.modules
        if m == "google.protobuf" or m.startswith("google.protobuf.")
    ]:
        del sys.modules[leftover]
    sys.meta_path.insert(0, _AliasFinder(prefix))
    _ensure_google_parent(pb)
    return True


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable; True on success.

    Prefers a real install; falls back to aliasing a vendored runtime.
    Idempotent and cheap after the first call.
    """
    try:
        importlib.import_module("google.protobuf.descriptor")
        return True
    except ImportError:
        pass
    for root, prefix in _VENDORED_RUNTIMES:
        if _alias_runtime(root, prefix):
            try:
                importlib.import_module("google.protobuf.descriptor")
                return True
            except ImportError:
                continue
    return False


def lazy_zip_invalidation() -> bool:
    """Replace ``zipimport.zipimporter.invalidate_caches`` (CPython <
    3.12 only; True when installed) with one that re-reads an archive
    only when it changed on disk.

    The stock method re-reads the whole central directory of the
    importer's archive on every call (CPython gh-103200, fixed in
    3.12). The replacement stamps each importer with its archive's
    ``(st_mtime_ns, st_size)`` when it reads the archive, and later
    calls return at once while the stamp is unchanged; a changed stamp
    or a failed ``os.stat`` re-reads as before. The stamp is kept per
    importer, not per archive path: several importers share an archive
    and each holds its own ``_files``, so each must re-read for itself.
    An importer's first call always reads, since its ``_files`` may
    predate the stamp. A rewrite that keeps both the size and the
    mtime (within the filesystem's timestamp resolution) goes unseen.
    Idempotent.
    """
    if sys.version_info >= (3, 12):
        return False
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if reread.__module__ == __name__:
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def worker_pythonpath() -> str:
    """Directory to prepend to PYTHONPATH so spawned Python workers
    (pyspark.daemon) run both shims via sitecustomize."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_shim")
