"""The vendored ``google.protobuf`` runtime (vendor/README.md).

The transformWithState state-server protocol (st7) needs
``google.protobuf`` in the driver, every Python worker, AND the
streaming-runner subprocess the JVM forks. Only an environment
variable set BEFORE the JVM launches reaches all three, so every entry
point (``__spark_entry__.py``, ``bench.py``, ``tests/conftest.py``)
calls :func:`provide_protobuf` at import time, before it builds a
SparkSession. This module imports no pyspark and starts no JVM.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

#: Pure-Python protobuf runtime as one zip; zipimport loads it from
#: sys.path / PYTHONPATH directly.
PROTOBUF_ZIP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vendor",
    "protobuf_py.zip",
)


def provide_protobuf() -> str | None:
    """Make ``google.protobuf`` importable: if it is not installed, put
    :data:`PROTOBUF_ZIP` on ``sys.path`` (this process) and on
    ``PYTHONPATH`` (processes started after this call, the JVM's Python
    workers among them). Returns the zip's path when this call put it
    in use, None when protobuf was importable already or the zip is
    missing."""
    try:
        if importlib.util.find_spec("google.protobuf") is not None:
            return None
    except ModuleNotFoundError:  # no 'google' namespace at all
        pass
    if not os.path.isfile(PROTOBUF_ZIP):
        return None
    sys.path.insert(0, PROTOBUF_ZIP)
    importlib.invalidate_caches()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [PROTOBUF_ZIP, os.environ.get("PYTHONPATH", "")] if p
    )
    return PROTOBUF_ZIP
