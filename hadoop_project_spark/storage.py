"""Minimal storage seam for the engine's COMMIT-PROTOCOL IO
(VERDICT r10 #3 / round-11 item 8).

The LSM segment log (streaming/index_segments.py) and the versioned
serving layouts (serving.py) implement object-store-honest publish
protocols — manifest commits, atomic pointer replaces, immutable
version directories — but their r10 implementation called ``os.*``
directly, so the 100 TB object-store claim lived only in docstrings.
This module narrows every control-plane IO those protocols perform to
ONE small interface whose operations map 1:1 onto what S3/GCS/ABFS
natively provide:

==================  =========================  =========================
operation           local impl                 object-store mapping
==================  =========================  =========================
list_names          os.listdir                 LIST by prefix/delimiter
exists / is_dir     os.path                    HEAD (dirs are prefixes)
read_text           open().read()              GET (small object)
put_text_atomic     tmp file + os.replace      single PUT (natively
                                               atomic + read-after-write)
remove/remove_tree  os.remove/shutil.rmtree    DELETE (batch)
stat_sig            os.stat size+mtime_ns      HEAD size+ETag/version-id
publish_dir         os.replace of a staging    NOT AVAILABLE — which is
                    directory                  exactly why the manifest
                                               publish protocol exists;
                                               rename-protocol callers
                                               must hold a Store that
                                               supports it (LocalStore
                                               does, an S3 store would
                                               raise NotImplementedError)
==================  =========================  =========================

DATA-plane IO is deliberately NOT behind this seam: parquet
segment/layout bytes are written and read by Spark itself (whose
Hadoop FileSystem layer already speaks s3a/gcs/abfs), and the one
pyarrow footer read (_segment_has_data) is a ranged GET any pyarrow
filesystem serves. The seam covers the small-object control plane —
manifests, markers, pointers, watermarks — where atomicity decisions
live.

Only a local implementation ships (no cloud SDKs in this
environment); the point is that LSM + serving run entirely through
the interface, so a real S3 store is an implementation, not a
rewrite.
"""

from __future__ import annotations

import os
import shutil


class LocalStore:
    """POSIX implementation of the control-plane storage interface."""

    # --- listing / existence -------------------------------------------------
    def list_names(self, path: str) -> list[str]:
        """Immediate child names of a directory; [] when absent."""
        try:
            return os.listdir(path)
        except OSError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    # --- small-object read / atomic write ------------------------------------
    def read_text(self, path: str) -> str | None:
        """Contents of a small text object, or None when absent."""
        try:
            with open(path) as fh:
                return fh.read()
        except OSError:
            return None

    def put_text_atomic(self, path: str, data: str, tmp_tag: str = "") -> None:
        """Publish a small text object atomically: never observable
        half-written. Locally a tmp-file + rename; on an object store
        ONE PUT (natively atomic). ``tmp_tag`` namespaces the local tmp
        file (e.g. by pid) so concurrent writers of the same object do
        not collide on staging."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{('-' + tmp_tag) if tmp_tag else ''}"
        with open(tmp, "w") as fh:
            fh.write(data)
        os.replace(tmp, path)

    # --- deletion -------------------------------------------------------------
    def remove(self, path: str) -> None:
        """Delete one object; absent is not an error (DELETE semantics)."""
        try:
            os.remove(path)
        except OSError:
            pass

    def remove_tree(self, path: str) -> None:
        """Delete a prefix recursively; absent is not an error."""
        shutil.rmtree(path, ignore_errors=True)

    # --- metadata ---------------------------------------------------------------
    def stat_sig(self, path: str) -> tuple[int, int] | None:
        """(size, mtime_ns) content signature, or None when absent —
        the object-store analog is (size, ETag/version-id) from HEAD."""
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_size, st.st_mtime_ns

    def mtime(self, path: str) -> float | None:
        try:
            return os.stat(path).st_mtime
        except OSError:
            return None

    # --- POSIX-only: atomic directory publish ---------------------------------
    def publish_dir(self, staging: str, final: str) -> None:
        """Atomically rename a fully-written staging DIRECTORY into its
        published name — the rename-protocol segment publish. POSIX/HDFS
        have this; object stores do NOT (a copy-per-object 'rename' is
        observable half-done), which is why the manifest protocol
        exists. An object-store Store implementation raises
        NotImplementedError here, forcing callers onto manifests."""
        self.remove_tree(final)
        os.replace(staging, final)


#: Module default — the one instance LSM + serving use. A deployment
#: with a real object store swaps this (or passes its own Store).
STORE = LocalStore()


def sweep_dead_pid_dirs(base: str, prefix: str) -> None:
    """Remove ``<base>/<prefix>_*_<pid>`` directories whose owning pid
    no longer exists (ADVICE r11 #3, generalized in round 12): pid
    namespacing defends concurrently-running same-host processes, but
    each process's startup cleanup only clears its OWN path, so exited
    runs accumulate orphans. Calling this at operation start bounds
    disk usage by the number of LIVE processes; a directory whose pid
    is alive (or unverifiable) is never touched, so no live run can
    lose state. POSIX-scoped like LocalStore itself — an object-store
    deployment namespaces by job id and sweeps via lifecycle policy."""
    import re
    import shutil

    if not os.path.isdir(base):
        return
    pat = re.compile(re.escape(prefix) + r"_.+_(\d+)$")
    for entry in os.listdir(base):
        m = pat.match(entry)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # signal 0: existence probe only
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        except PermissionError:
            pass  # pid exists under another uid: leave it alone


def fresh_pid_dir(base: str, prefix: str, tag: str) -> str:
    """``<base>/<prefix>_<tag>_<pid>``, emptied, after retiring the
    dead-pid siblings sweep_dead_pid_dirs finds: the scratch root of
    one query run. The pid suffix keeps concurrent same-host processes
    apart, and the sweep keeps exited ones from leaving their roots
    behind. A root that exists but cannot be removed raises here."""
    sweep_dead_pid_dirs(base, prefix)
    path = os.path.join(base, f"{prefix}_{tag}_{os.getpid()}")
    if os.path.exists(path):
        shutil.rmtree(path)
    return path
