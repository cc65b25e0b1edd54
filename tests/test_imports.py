"""Every module of the engine imports.

Most modules are imported by some test, but not all of them; a module
that imports a deleted sibling would otherwise fail only when a caller
first reaches it.
"""

from __future__ import annotations

import importlib
import pkgutil

import edgar_crawler_spark

# Modules the crawl, the extraction path and the driver contract stand
# on; a walk that misses one of them is broken, however many it finds.
CORE_MODULES = {
    "queries",
    "session",
    "pydaemon",
    "frontier.crawler",
    "frontier.state",
    "extraction.pipeline",
    "operators.extract_job",
    "streaming.jobs",
}


def test_every_module_imports():
    failed: dict[str, str] = {}
    names = []
    for info in pkgutil.walk_packages(
        edgar_crawler_spark.__path__,
        "edgar_crawler_spark.",
        onerror=lambda name: failed.setdefault(name, "package walk failed"),
    ):
        names.append(info.name)
        try:
            importlib.import_module(info.name)
        except Exception as exc:  # noqa: BLE001 - report every failure at once
            failed[info.name] = f"{type(exc).__name__}: {exc}"
    assert {f"edgar_crawler_spark.{m}" for m in CORE_MODULES} <= set(names)
    assert failed == {}
