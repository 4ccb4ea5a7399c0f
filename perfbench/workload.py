"""The contract every workload implements for the closed loop in
``perfbench/worker.py``."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class Context:
    seed: int
    trace: bool
    run_dir: str
    tracer: object
    spark: object = None
    stats: dict = field(default_factory=dict)


def count_files(path: str) -> int:
    """Number of parquet data files under ``path``."""
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for name in files
        if name.endswith(".parquet")
    )


class Workload:
    """One client, one op at a time.

    ``prepare`` (untimed) builds an op's inputs, ``run`` (timed) is the op
    itself and returns ``{"latency_s": ...}`` plus whatever ``check`` needs,
    ``check`` (untimed) returns True/False, or None when the op is checked
    later by ``verify``."""

    name = ""
    warmup_ops = 0
    # Nominal length of one round on a 4-vCPU VM. A run measures a fixed
    # number of rounds, round(seconds / round_seconds), so the mix of its
    # samples never depends on how fast the run happens to go.
    round_seconds = 1.0
    round_ops = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def before_session(self) -> None:
        """Work that may overlap the JVM start (input generation)."""

    def setup(self) -> None:
        """Fixtures; runs once the session is up, before the warm-up ops."""

    def wrap(self, tracer) -> None:
        """Install this workload's layer wrappers (traced run only)."""

    def ready(self) -> None:
        """Called after the warm-up ops: wait for any helper process, so
        that none runs in the timed region."""

    def plan(self):
        raise NotImplementedError

    def prepare(self, spec):
        return None

    def run(self, spec, prep) -> dict:
        raise NotImplementedError

    def check(self, spec, prep, out) -> bool | None:
        return True

    def verify(self) -> dict[int, bool]:
        """Results of the deferred checks, by op index."""
        return {}

    def close(self) -> None:
        """Stop any helper process this workload started."""

    def topic_files(self) -> int:
        """Data files of the topic the workload publishes to, at the end."""
        return 0
