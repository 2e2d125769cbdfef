"""Python worker daemon for sessions built by ``session.get_spark``.

Runs ``pyspark.daemon.manager()`` after making
``zipimport.zipimporter.invalidate_caches`` re-read an archive only when
its ``(st_mtime_ns, st_size, st_ino)`` changed since its last read.  On
CPython < 3.13 the stock method re-reads the whole central directory of
every zip on ``sys.path`` each time ``importlib.invalidate_caches()``
runs, which pyspark's ``setup_spark_files`` does once per task.  Forked
workers inherit the patch.  Python >= 3.13 already reads lazily and is
left alone.  ``pyspark.daemon`` reads the worker module from
``sys.argv`` itself, so the arguments pass through untouched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path -> stat stamp taken just before its last directory read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _make_invalidate(reread):
    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
            self._files = files  # another importer of this archive re-read it
            return
        reread(self)
        if stamp is None:
            _STAMPS.pop(self.archive, None)
        else:
            _STAMPS[self.archive] = stamp

    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (no-op on >= 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _make_invalidate(
            zipimport.zipimporter.invalidate_caches
        )


def main() -> None:
    install()
    from pyspark import daemon

    # read every archive once here, so forked workers start stamped
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run under the module's own name, so the patch and its stamps are
    # attributed to this module rather than to ``__main__``
    importlib.import_module(__spec__.name).main()
