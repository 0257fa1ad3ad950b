"""What every workload shares: sample lists, operation counts, checks."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict


class CheckFailed(Exception):
    """The program's output differs from the independently computed one."""


def median(values) -> float:
    return float(statistics.median(values))


def dir_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path`` (a table directory)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Workload:
    """One workload in one Spark session.

    The harness calls :meth:`setup` (timed, with the session start),
    :meth:`prepare` (untimed), then :meth:`run_round` until the run's
    time is up, then :meth:`finish` and :meth:`close`. Rounds append to
    ``samples``; :meth:`metrics` takes each list's median.
    """

    min_rounds = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.round_no = 0
        self.rec = None  # the span recorder while a traced round runs

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed work before the first round (oracle answers)."""

    def run_round(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks and samples taken once, after the last round."""

    def close(self) -> None:
        """Stop the workload's ``api_server``, if it started one."""
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()

    def metrics(self) -> dict[str, float]:
        return {k: median(v) for k, v in self.samples.items()}
