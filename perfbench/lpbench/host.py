"""Host stamp: numbers compare only within one host."""

from __future__ import annotations

import os
import platform


def canary_slowdown() -> float:
    """``bench.py``'s sha256 canary: per-worker slowdown of one pinned
    canary per core vs a solo canary (1.0 = every core runs at solo speed)."""
    import bench

    return bench._probe_slowdown(len(os.sched_getaffinity(0)))


def stamp(spark, master: str, slowdown: float) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "canary_slowdown": slowdown,
    }
