"""Python-worker daemon for the traced benchmark run.

The ``operators.codecs`` functions run only inside Spark's Python workers
(the ``mapInPandas`` batches of the multimodal queries call them), where
the driver-side tracer sees nothing. The traced run sets
``spark.python.daemon.module`` to this module. Before the daemon forks
its workers it wraps every public function of each module in
``WORKER_MODULES``, and each worker appends one line per outermost call
(layer and seconds) to ``$PERFBENCH_WORKER_LOG/<pid>.jsonl``. The calls a
wrapped function makes to its own module count as its own time.
``read_log`` sums the lines per layer.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import time

PACKAGE = "graphsense_ethereum_etl_spark"
WORKER_MODULES = ("operators.codecs",)
LOG_ENV = "PERFBENCH_WORKER_LOG"

_depth = 0


def _wrap(fn, layer: str, log_dir: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        global _depth
        if _depth:
            return fn(*args, **kwargs)
        _depth += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            _depth -= 1
            line = json.dumps({"layer": layer, "s": time.perf_counter() - t0})
            with open(os.path.join(log_dir, f"{os.getpid()}.jsonl"), "a") as fh:
                fh.write(line + "\n")

    return wrapper


def install(log_dir: str) -> None:
    for rel in WORKER_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.{rel}")
        for name, obj in list(vars(mod).items()):
            if (not name.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__):
                setattr(mod, name, _wrap(obj, rel, log_dir))


def read_log(log_dir: str) -> dict[str, dict[str, float]]:
    """``{layer: {"calls": n, "seconds": s}}`` over every worker's log."""
    out = {rel: {"calls": 0, "seconds": 0.0} for rel in WORKER_MODULES}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                rec = json.loads(line)
                out[rec["layer"]]["calls"] += 1
                out[rec["layer"]]["seconds"] += rec["s"]
    return out


def clear_log(log_dir: str) -> None:
    for name in os.listdir(log_dir):
        os.remove(os.path.join(log_dir, name))


if __name__ == "__main__":
    install(os.environ[LOG_ENV])
    from pyspark import daemon

    daemon.manager()
