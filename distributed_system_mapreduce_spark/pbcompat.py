"""google.protobuf availability shim (VERDICT r10 #7).

Spark 4's transformWithState Python runner speaks a protobuf state
protocol: ``pyspark.sql.streaming.proto.StateMessage_pb2`` imports
``google.protobuf`` at module load, so a driver/executor Python without
the protobuf runtime kills the worker before the first batch. This
container has no ``google`` package and pip installs are unavailable —
but a pure-Python protobuf runtime (6.32.0) ships vendored inside the
locally-installed Google Cloud SDK, a public location this shim can
borrow it from read-only.

:func:`ensure_protobuf` makes ``google.protobuf`` importable if it can:

- native install present → no-op;
- else build a PEP 420 namespace shim dir in the system temp dir whose
  ONLY content is a ``google/protobuf`` symlink to the vendored runtime
  (never the whole vendored tree — the SDK dir carries many other
  packages that would shadow site-packages), put it on ``sys.path`` for
  this process and on ``PYTHONPATH`` for the JVM-spawned Python workers
  (so call this BEFORE SparkSession creation — session.get_spark does);
- set protobuf's own documented escape hatch
  ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``: pyspark's generated
  StateMessage code was built with gencode 6.33 and the vendored runtime
  is 6.32 — one minor apart within the same major, where the wire format
  and descriptor API are stable; without the flag the generated module
  refuses to load on the older runtime.

Everything is idempotent and degrades to an actionable (False, reason):
the tws probe (streaming/tws.py) folds this into its remedy message.
"""

from __future__ import annotations

import os
import sys
import tempfile
import warnings


class ProtobufShimWarning(RuntimeWarning):
    """google.protobuf is unavailable and could not be shimmed: the
    transformWithState surface degrades to runtime gates / test skips.

    Raised as a WARNING, not an error, because batch queries are
    unaffected — but it must be LOUD (VERDICT r14 #7): an environment
    regression that silently drops the streaming tests would otherwise
    look like a green run.
    """

#: publicly-known locations of a vendored pure-Python google.protobuf
#: runtime, probed in order. Only the protobuf subpackage is ever linked.
_VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf",
)

_RESULT: tuple[bool, str] | None = None

#: shim dir prepended to sys.path/PYTHONPATH when the vendored runtime is
#: in use, else None. Callers (streaming/tws.py's probe) use it to verify a
#: SparkSession's JVM actually inherited the shim — a session created
#: before :func:`ensure_protobuf` ran froze its env without it, and its
#: state-protocol Python workers would die despite a green driver import.
SHIM_DIR: str | None = None


def _import_ok() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def ensure_protobuf() -> tuple[bool, str]:
    """Make ``google.protobuf`` importable if possible; (ok, detail).

    On failure, emits ONE :class:`ProtobufShimWarning` (memoized with the
    result) so the degraded transformWithState surface is visible in any
    log/pytest run instead of silently turning into skips (VERDICT r14 #7).
    """
    global _RESULT
    first_call = _RESULT is None
    result = _ensure_protobuf_impl()
    if first_call and not result[0]:
        warnings.warn(
            ProtobufShimWarning(
                "transformWithState surface degraded to runtime gates: "
                + result[1]
            ),
            stacklevel=2,
        )
    return result


def _ensure_protobuf_impl() -> tuple[bool, str]:
    global _RESULT
    if _RESULT is not None:
        return _RESULT
    if os.environ.get("DSMR_DISABLE_PB_SHIM"):
        # test hook (VERDICT r14 #7): lets a pytest run exercise the whole
        # degraded path — ProtobufShimWarning, runtime gates, the terminal
        # summary's explicit skip count — on a container where the vendored
        # runtime IS present. Never set in production.
        _RESULT = (
            False,
            "DSMR_DISABLE_PB_SHIM set: simulating a shim-less environment",
        )
        return _RESULT
    if _import_ok():
        _RESULT = (True, "native google.protobuf")
        return _RESULT
    for src in _VENDORED_PROTOBUF_DIRS:
        if not os.path.isdir(src):
            continue
        try:
            # Per-user, mode-0700 shim dir (ADVICE r11: a fixed path in the
            # shared system temp dir lets another user pre-create the
            # dir/symlink and inject code into the driver and every
            # JVM-spawned worker; it also silently reuses stale links).
            shim = os.path.join(
                tempfile.gettempdir(), f"dsmr_pbshim_{os.getuid()}"
            )
            os.makedirs(shim, mode=0o700, exist_ok=True)
            st = os.lstat(shim)
            if st.st_uid != os.getuid() or os.path.islink(shim):
                _RESULT = (
                    False,
                    f"protobuf shim dir {shim} not owned by current user",
                )
                return _RESULT
            os.chmod(shim, 0o700)
            gdir = os.path.join(shim, "google")
            os.makedirs(gdir, exist_ok=True)
            link = os.path.join(gdir, "protobuf")
            # Recreate the link unless it already points exactly at src —
            # a stale link to a moved/removed SDK must never be reused.
            # Temp-name symlink + os.replace is atomic, so a same-user
            # process racing on the shared shim dir sees either the old
            # link or the repaired one, and whoever replaces last leaves
            # a link to src either way.
            try:
                current = os.readlink(link)
            except OSError:
                current = None
            if current != src:
                tmp = link + f".tmp{os.getpid()}"
                try:
                    os.symlink(src, tmp)
                    os.replace(tmp, link)
                finally:
                    if os.path.lexists(tmp):
                        os.unlink(tmp)
            if shim not in sys.path:
                sys.path.insert(0, shim)
            # JVM-spawned Python workers resolve imports from PYTHONPATH —
            # effective only for SparkSessions created AFTER this call.
            parts = os.environ.get("PYTHONPATH", "")
            if shim not in parts.split(os.pathsep):
                os.environ["PYTHONPATH"] = (
                    shim + (os.pathsep + parts if parts else "")
                )
            os.environ.setdefault(
                "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
            )
            # a failed earlier import can leave a dead namespace module
            sys.modules.pop("google", None)
            import importlib

            importlib.invalidate_caches()
        except OSError as exc:  # tempdir unwritable, symlink denied, ...
            _RESULT = (False, f"protobuf shim setup failed: {exc}")
            return _RESULT
        if _import_ok():
            global SHIM_DIR
            SHIM_DIR = shim
            _RESULT = (True, f"vendored protobuf runtime linked from {src}")
            return _RESULT
        _RESULT = (False, f"vendored protobuf at {src} did not import")
        return _RESULT
    _RESULT = (
        False,
        "no google.protobuf installed and no vendored runtime found; "
        "install the 'protobuf' package on driver and executors",
    )
    return _RESULT
