"""Python worker daemon that starts every forked worker warm.

``session.get_spark`` sets this module as ``spark.python.daemon.module``, so
Spark launches ``python -m datafusion_impl_spark.worker_daemon pyspark.worker``
once per session (the first time a task needs Python) and forks each worker
from it. Two start-up costs move out of the workers:

- Spark puts its own ``pyspark.zip`` first on the workers' ``sys.path``. The
  zip holds source only, and zipimport never caches bytecode, so every daemon
  compiled pyspark again (~1 s on a 4-core VM). When the installed,
  byte-compiled pyspark is the same version as every such zip, the zips move
  behind it. Otherwise ``sys.path`` is left alone, and a deployment that only
  has Spark's zip behaves as with Spark's own daemon.
- pandas, pyarrow, the Arrow serializers and the ``regexp_extract`` parity
  kernel are imported once here, before the fork, instead of in each worker.

Nothing may import pyspark before :func:`prefer_installed_pyspark` has run,
which is why the package ``__init__`` imports no pyspark.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile

_ZIP_NAME = "pyspark.zip"
_VERSION_RE = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.MULTILINE)


def _zip_version(path: str) -> str | None:
    """``__version__`` of the pyspark inside a zip, or None if unreadable."""
    try:
        with zipfile.ZipFile(path) as zf:
            source = zf.read("pyspark/version.py").decode("utf-8")
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None
    m = _VERSION_RE.search(source)
    return m.group(1) if m else None


def prefer_installed_pyspark(path: list[str]) -> list[str]:
    """``path`` with every ``pyspark.zip`` entry moved to the end, when a
    pyspark distribution installed on ``path`` has the same version as each
    of those zips; otherwise ``path`` itself."""
    zips = [p for p in path if os.path.basename(p) == _ZIP_NAME]
    if not zips:
        return path
    installed = next(importlib.metadata.distributions(name="pyspark", path=path), None)
    if installed is None or any(_zip_version(z) != installed.version for z in zips):
        return path
    return [p for p in path if p not in zips] + zips


def main() -> None:
    sys.path[:] = prefer_installed_pyspark(sys.path)

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    import datafusion_impl_spark.functions.regexp  # noqa: F401
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
