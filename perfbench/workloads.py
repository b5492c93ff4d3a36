"""The benchmark's workloads: which registry gates a pass runs, and why.

Each workload stresses one layer of a gate's wall time and bypasses the
others, so a change to one layer has a workload that should move and one
that should not. The reasons and the probe figures behind each gate list
are in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    gates: tuple[str, ...]
    #: fixture tables the gates and their DuckDB twins read
    tables: tuple[str, ...]
    #: warm-pass length on a 4-core host; with ``--seconds`` it fixes the
    #: number of measured warm passes, so both commits of a comparison take
    #: the same number of samples
    nominal_pass_s: float

    def warm_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.nominal_pass_s))

    def order(self, seed: int, n_passes: int) -> list[list[str]]:
        """Gate order of every pass, a pure function of the seed."""
        rng = random.Random(seed)
        out = []
        for _ in range(n_passes):
            gates = list(self.gates)
            rng.shuffle(gates)
            out.append(gates)
        return out


WORKLOADS: dict[str, Workload] = {
    # execution and Catalyst: the paper's batch operators over the
    # synthetic book, rolling RV on both window-dispatch arms; one
    # constructor job per gate, so it is the control for constructor work.
    # An odd number of gates of distinct lengths puts gate_s.p50 inside one
    # gate's samples instead of in the gap between two gates
    "book_batch": Workload(
        gates=(
            "book_row_metrics",
            "book_returns_rv",
            "book_rv_segmented",
        ),
        tables=("events",),
        nominal_pass_s=2.8,
    ),
    # eager constructors: the connected-components fixpoint and two
    # availableNow replays (state, checkpoints, sinks) run every job before
    # the DataFrame is returned, so it measures the constructor and
    # per-trigger layers and bypasses batch execution
    "driver_loops": Workload(
        gates=(
            "dedup_clusters",
            "streaming_ofi_replay",
            "streaming_windowed_metrics",
        ),
        tables=("documents", "events"),
        nominal_pass_s=4.0,
    ),
}
