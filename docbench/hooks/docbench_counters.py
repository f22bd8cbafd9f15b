"""Backend read counters for traced benchmark runs.

``install(out_dir)`` wraps the document-producing methods of the package's
file backends.  Each finished read appends one line ``docs seconds`` to
``<out_dir>/<pid>.txt``; ``seconds`` is the time spent inside the
backend's own iterator (reading and decoding), not in its consumer.
"""

from __future__ import annotations

import functools
import os
import time

_METHODS = ("iter_documents", "read_partition", "arrow_scan")


def _counted(gen, log_path: str, batches: bool):
    n, busy = 0, 0.0
    try:
        while True:
            t = time.perf_counter()
            try:
                item = next(gen)
            except StopIteration:
                busy += time.perf_counter() - t
                return
            busy += time.perf_counter() - t
            n += item.num_rows if batches else 1
            yield item
    finally:
        with open(log_path, "a") as f:
            f.write(f"{n} {busy:.9f}\n")


def _wrap(fn, out_dir: str, batches: bool):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        log_path = os.path.join(out_dir, f"{os.getpid()}.txt")
        return _counted(iter(fn(*args, **kwargs)), log_path, batches)

    wrapper.__docbench_original__ = fn
    return wrapper


def install(out_dir: str) -> None:
    from duckdb_mongo_spark.backends import JsonlBackend, ParquetBackend

    for cls in (JsonlBackend, ParquetBackend):
        for name in _METHODS:
            fn = cls.__dict__.get(name)
            if fn is not None and not hasattr(fn, "__docbench_original__"):
                setattr(cls, name, _wrap(fn, out_dir, batches=name == "arrow_scan"))


def uninstall() -> None:
    from duckdb_mongo_spark.backends import JsonlBackend, ParquetBackend

    for cls in (JsonlBackend, ParquetBackend):
        for name in _METHODS:
            fn = cls.__dict__.get(name)
            if fn is not None and hasattr(fn, "__docbench_original__"):
                setattr(cls, name, fn.__docbench_original__)


def totals(out_dir: str, driver_pid: int) -> tuple[int, int, float]:
    """(executor-side reads, docs, seconds) over every process's log so far;
    docs and seconds include the driver's own reads."""
    reads = docs = 0
    secs = 0.0
    for f in os.listdir(out_dir):
        executor = f != f"{driver_pid}.txt"
        with open(os.path.join(out_dir, f)) as fh:
            for line in fh:
                n, s = line.split()
                reads += executor
                docs += int(n)
                secs += float(s)
    return reads, docs, secs
