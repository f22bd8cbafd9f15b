"""Loaded by every Python process Spark starts during a traced benchmark
run (the harness puts this directory on PYTHONPATH): counts the documents
the package's backends hand out in executor workers."""

import os

if os.environ.get("DOCBENCH_COUNT_DIR"):
    import docbench_counters

    docbench_counters.install(os.environ["DOCBENCH_COUNT_DIR"])
