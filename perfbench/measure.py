"""One benchmark run in one fresh driver process.

Run through ``perfbench/run.py``, which pins the environment this module
expects. The run:

1. times a fixed CPU-bound canary (host diagnostic);
2. sets up once here, with a new JVM (``perfbench/fresh_setup.py``), and
   keeps that session;
3. runs one cold pass, one unmeasured warm-up pass and a
   fixed number of measured warm passes, in a closed
   loop with one client: each gate is built by ``REGISTRY[name].spark`` and written to
   the ``noop`` sink before the next gate starts. The other two set-ups
   run in processes of their own between measured passes, so that the
   measured passes span more of the run and a slow or fast minute of the
   host weighs on fewer of them;
4. checks every gate's last result against its DuckDB twin, outside the
   timed passes, and times the canary again.

With ``--trace 1`` the warm passes alternate traced and untraced; the
traced ones record the per-layer metrics of ``perfbench/layers.py`` and
the difference between the two kinds of pass is the tracing overhead.
No listener of the benchmark is registered during an untraced pass.

The last stdout line is the result JSON; the line before it carries the
diagnostics (environment, canary, sample counts, per-gate layers).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

from perfbench.fresh_setup import ROOT, setup
from perfbench.workloads import WORKLOADS

N_SETUPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "workload_s": "s",
    "success_rate": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.import_s": "s",
    "sources.prime_s": "s",
    "plans.ctor_s": "s",
    "plans.ctor_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.trigger_s.p50": "s",
    "trace.overhead_s": "s",
    "host.canary_s": "s",
}
#: per-layer metrics of set-up, median over the set-ups
SETUP_LAYERS = ["session.start_s", "plans.import_s", "sources.prime_s"]
#: per-layer metrics summed over a pass's gates
PASS_LAYERS = [
    k
    for k in LAYER_UNITS
    if k.split(".")[0] in ("plans", "catalyst", "exec", "streaming")
    and k not in SETUP_LAYERS
    and k != "streaming.trigger_s.p50"
]


def canary() -> float:
    """Fixed single-core CPU work: 200k chained SHA-256 digests."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def tail(samples: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` at the highest percentile with at least ten
    samples above it, or None when no percentile above the median has."""
    xs = sorted(samples)
    k = len(xs) - 10  # 1-based rank of the tail sample
    if k <= len(xs) / 2:
        return None
    return 100.0 * k / len(xs), xs[k - 1]


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.data = os.path.join(ROOT, "perfbench", "data", args.data)
        self.run_dir = os.environ["SPARK_GRAFT_SCRATCH_DIR"]
        self.spark = None
        self.errors: list[str] = []

    # -- set-up -----------------------------------------------------------

    def fresh_setup(self) -> dict:
        """A set-up in a process of its own, which launches a new JVM, as a
        one-shot user's process does, and waits for it to exit."""
        p = subprocess.run(
            [sys.executable, "-m", "perfbench.fresh_setup", self.args.workload, self.args.data],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True, timeout=120,
        )
        return json.loads(p.stdout.strip().splitlines()[-1])

    # -- passes -----------------------------------------------------------

    def run_pass(self, gates: list[str], tracer=None) -> dict:
        """One closed-loop pass; returns per-gate records."""
        out = {}
        for g in gates:
            try:
                if tracer:
                    tracer.begin()
                t0 = time.perf_counter()
                df = self.registry[g].spark(self.spark, self.data)
                t1 = time.perf_counter()
                if tracer:
                    tracer.after_ctor(df)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec = {"ok": True, "wall_s": t2 - t0, "df": df}
                if tracer:
                    rec["layers"], rec["triggers"] = tracer.end(t1 - t0)
            except Exception:  # noqa: BLE001 - one gate's failure is counted, not fatal
                self.errors.append(f"{g}: {traceback.format_exc(limit=3)}"[-2000:])
                rec = {"ok": False}
            out[g] = rec
        return out

    # -- check ------------------------------------------------------------

    def check(self, last: dict) -> dict[str, bool]:
        from perfbench.oracle import DuckTwin
        from tools.check_oracle import canon_hash

        twin = DuckTwin(self.data, self.workload.tables, self.run_dir)
        ok = {}
        try:
            for g in self.workload.gates:
                rec = last.get(g, {})
                if not rec.get("ok"):
                    ok[g] = False
                    continue
                try:
                    want = twin.expected_hash(self.registry[g].sql)
                    if g in self.args.corrupt:
                        want = ("corrupted", *want[1:])
                    got = canon_hash(rec["df"].toPandas())
                except Exception:  # noqa: BLE001 - a check that cannot run fails the gate
                    self.errors.append(f"check {g}: {traceback.format_exc(limit=3)}"[-2000:])
                    ok[g] = False
                    continue
                ok[g] = got == want
                if not ok[g]:
                    self.errors.append(f"check {g}: spark {got} != duckdb {want}")
        finally:
            twin.close()
        return ok

    # -- main -------------------------------------------------------------

    def main(self) -> dict:
        args = self.args
        canary0 = canary()
        self.spark, self.registry, first = setup(self.workload, self.data, self.run_dir)
        setups = [first]
        trace = args.trace == 1
        tracer = None
        if trace:
            from perfbench.layers import GateTracer

            tracer = GateTracer(self.spark)

        n_warm = self.workload.warm_passes(args.seconds)
        # traced runs alternate traced and untraced warm passes in ABBA
        # order, so the JIT's settling does not bias the overhead; they
        # need one pass of each kind
        if trace:
            n_warm = max(2, n_warm)
        abba = ["traced", "plain", "plain", "traced"]
        kinds = ["cold", "warmup"]
        kinds += [abba[i % 4] if trace else "plain" for i in range(n_warm)]
        orders = self.workload.order(args.seed, len(kinds))
        # the other set-ups go before evenly spaced measured passes (before
        # the second and third of three, both before the second of two)
        first_measured = len(kinds) - n_warm
        setup_before = [
            first_measured + min(n_warm - 1, round(k * n_warm / N_SETUPS))
            for k in range(1, N_SETUPS)
        ]
        passes = []
        for i, (kind, gates) in enumerate(zip(kinds, orders)):
            for _ in range(setup_before.count(i)):
                setups.append(self.fresh_setup())
            if kind == "traced":
                tracer.attach()
            t = time.perf_counter()
            recs = self.run_pass(gates, tracer if kind == "traced" else None)
            wall = time.perf_counter() - t
            if kind == "traced":
                tracer.detach()
            passes.append({"kind": kind, "wall_s": wall, "gates": recs})
            print(f"[perfbench] {args.workload} {kind} pass {wall:.2f}s", file=sys.stderr, flush=True)

        t = time.perf_counter()
        ok = self.check(passes[-1]["gates"])
        self.check_s = time.perf_counter() - t
        canary1 = canary()
        return self.report(setups, passes, ok, canary0, canary1)

    def report(self, setups, passes, ok, canary0, canary1) -> dict:
        args = self.args
        med = statistics.median
        attempted = sum(len(p["gates"]) for p in passes)
        succeeded = sum(
            1 for p in passes for g, r in p["gates"].items() if r["ok"] and ok.get(g)
        )
        warm = [p for p in passes if p["kind"] == "plain"]
        gate_samples = [r["wall_s"] for p in warm for r in p["gates"].values() if r["ok"]]
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "data": args.data,
            "trace": args.trace,
            "gate_order": [list(p["gates"]) for p in passes],
            "pass_kinds": [p["kind"] for p in passes],
            # the cold pass, the median warm pass and the median gate are
            # not end-to-end metrics: on their own they spread across seeds
            # by more than the bound allows (see NOTES.md)
            "first_pass_s": passes[0]["wall_s"],
            "pass_s": med(p["wall_s"] for p in warm),
            "pass_walls_s": [p["wall_s"] for p in passes],
            "pass_gate_walls_s": [
                {g: r["wall_s"] for g, r in p["gates"].items() if r["ok"]} for p in passes
            ],
            "gate_wall_s": {
                g: med(p["gates"][g]["wall_s"] for p in warm if p["gates"][g]["ok"])
                for g in self.workload.gates
                if any(p["gates"][g]["ok"] for p in warm)
            },
            "gate_s": {
                "samples": len(gate_samples),
                "p50": med(gate_samples) if gate_samples else None,
                "tail": tail(gate_samples),
            },
            "setups": setups,
            "checks": ok,
            "check_s": self.check_s,
            "canary_start_s": canary0,
            "canary_end_s": canary1,
            "env": {
                k: v
                for k, v in sorted(os.environ.items())
                if k.startswith(("SPARK_GRAFT_", "PYTHONPATH", "SPARK_LOCAL", "TMPDIR"))
            },
            "errors": self.errors,
        }
        if args.trace == 0:
            values = {
                "setup_s": med(s["setup_s"] for s in setups),
                # every pass of the session, cold, warm-up and measured: it
                # spans about 40 s of the run, so a slow or fast phase of
                # the host weighs on it less than on any single pass
                "workload_s": sum(p["wall_s"] for p in passes),
                "success_rate": succeeded / attempted,
            }
            units = E2E_UNITS
        else:
            values, diag["per_gate"] = self.layers(setups, passes)
            values["host.canary_s"] = (canary0 + canary1) / 2
            # trigger durations are Spark's own; the listener that collects
            # them is registered during the traced passes only
            triggers = [
                t["durationMs"].get("triggerExecution", 0) / 1000.0
                for p in passes
                if p["kind"] == "traced"
                for r in p["gates"].values()
                if r["ok"]
                for t in r["triggers"]
            ]
            t = diag["trigger_s"] = {
                "samples": len(triggers),
                "p50": med(triggers) if triggers else None,
                "tail": tail(triggers),
            }
            values["streaming.trigger_s.p50"] = t["p50"] or 0.0
            units = LAYER_UNITS
        print(json.dumps({"perfbench": diag}, sort_keys=True), flush=True)
        return {
            "correct": succeeded == attempted,
            "attempted": attempted,
            "failed": attempted - succeeded,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }

    def layers(self, setups, passes):
        """Per-layer metrics: per-pass sums over gates, median over the
        traced passes; set-up layers, median over the set-ups."""
        med = statistics.median
        traced = [p for p in passes if p["kind"] == "traced"]
        plain = [p for p in passes if p["kind"] == "plain"]
        per_gate_samples: dict[str, list[dict]] = {}
        pass_sums = []
        for p in traced:
            sums = dict.fromkeys(PASS_LAYERS, 0.0)
            for g, r in p["gates"].items():
                if not r["ok"]:
                    continue
                rec = dict(r["layers"], wall_s=r["wall_s"])
                per_gate_samples.setdefault(g, []).append(rec)
                for k in PASS_LAYERS:
                    sums[k] += rec[k]
            pass_sums.append(sums)
        values = {k: med(s[k] for s in pass_sums) for k in PASS_LAYERS}
        values.update({k: med(s[k] for s in setups) for k in SETUP_LAYERS})
        values["trace.overhead_s"] = med(p["wall_s"] for p in traced) - med(
            p["wall_s"] for p in plain
        )
        # per gate, the traced sample with the median wall time, whole, so
        # that its layers add up to its wall
        per_gate = {
            g: sorted(recs, key=lambda r: r["wall_s"])[(len(recs) - 1) // 2]
            for g, recs in sorted(per_gate_samples.items())
        }
        return values, per_gate


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", default="sf0.01", help="fixture under perfbench/data")
    ap.add_argument(
        "--corrupt", action="append", default=[],
        help="gate whose expected hash is corrupted (self-test of the check)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    run = Run(parse(argv))
    try:
        result = run.main()
    finally:
        if run.spark is not None:
            run.spark.stop()
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
