"""User-transformer registry (the engine's UDF surface).

The reference lets users subclass ``base.Transformer`` and register it so
YAML mappings can name it (/root/reference/src/ontoweaver/transformer.py:35-91,
CLI ``--register`` /root/reference/src/ontoweaver/ontoweave.py:214-215).

Here a user transformer is a *compile hook*: a callable
``fn(spec: TransformerSpec) -> Column`` returning an ``array<string>`` Column
of candidate values per input row. Prefer building it from
``pyspark.sql.functions`` (JVM-side); fall back to a vectorized
``pandas_udf`` returning ``array<string>`` when imperative Python is
genuinely needed — never per-row Python UDFs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import inspect
import sys
from pathlib import Path
from typing import Callable

USER_TRANSFORMERS: dict[str, Callable] = {}


def register(name: str, fn: Callable) -> None:
    """Register ``fn(spec) -> Column(array<string>)`` under ``name``."""
    USER_TRANSFORMERS[name] = fn


def register_all(mapping: dict[str, Callable]) -> None:
    USER_TRANSFORMERS.update(mapping)


def unregister(name: str) -> None:
    USER_TRANSFORMERS.pop(name, None)


def fingerprint() -> str:
    """sha256 over each registered transformer's name and the bytes of the
    source file that defines it: a resumed pipeline run re-extracts when a
    ``--register`` module was edited. A transformer without a source file
    counts by name only, and modules it imports are not covered."""
    h = hashlib.sha256()
    for name, fn in sorted(USER_TRANSFORMERS.items()):
        h.update(name.encode() + b"\0")
        try:
            h.update(Path(inspect.getsourcefile(fn)).read_bytes())
        except (TypeError, OSError):
            pass
    return h.hexdigest()


def import_from_path(path: str) -> None:
    """Import a user module by file path; the module registers transformers
    at import time by calling :func:`register` (CLI ``--register`` analog)."""
    spec = importlib.util.spec_from_file_location(f"ow_user_{abs(hash(path))}", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
