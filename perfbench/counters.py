"""Counting wrappers that run inside the Python workers.

Instances are pickled into the tasks that call them, so this module imports
nothing heavy and holds no unpicklable state; counts travel back to the
driver in Spark accumulators.

- ``SimulatedService`` stands in for the LLM service of the ``lit_etl``
  workload: it wraps the package's deterministic ``MockLLMClient``, adds a
  fixed service time per call and counts calls and the simulated wait.
- ``CountedParse`` wraps a source's per-file parser and counts the files
  parsed, so the executions of a plan that reads the sources can be
  counted in the workers.
"""

from __future__ import annotations

import threading
import time

# Accumulator.add is a read-modify-write on the worker side, and the LLM
# map calls the client from a thread pool inside each task.
_LOCK = threading.Lock()


class SimulatedService:
    def __init__(self, client, service_s: float, calls, wait_s):
        self.client = client
        self.service_s = service_s
        self.calls = calls
        self.wait_s = wait_s

    def __call__(self, messages):
        t0 = time.perf_counter()
        time.sleep(self.service_s)
        waited = time.perf_counter() - t0
        with _LOCK:
            self.calls.add(1)
            self.wait_s.add(waited)
        return self.client(messages)


class CountedParse:
    def __init__(self, parse_file, files):
        self.parse_file = parse_file
        self.files = files

    def __call__(self, text: str):
        with _LOCK:
            self.files.add(1)
        return self.parse_file(text)
