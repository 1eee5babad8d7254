"""Pure-function operator modules. Lazily re-exported (PEP 562) so
importing the package — or one light module like `dedup` — does not
pay for the heavy siblings (packing pulls pandas at import time)."""

from __future__ import annotations

import importlib

__all__ = [
    "classifier", "dedup", "gif", "jpeg", "multimodal", "packing", "text",
]


def __getattr__(name: str):
    if name in __all__:
        return importlib.import_module(f"borsa_spark.functions.{name}")
    raise AttributeError(
        f"module 'borsa_spark.functions' has no attribute {name!r}"
    )
