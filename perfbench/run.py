"""Exception-engine benchmark: routed and counts throughput, and a traced
run with per-layer metrics (streaming included).

Usage, from the root of the repository:

    python3 perfbench/run.py --workload skew_mix --seed 1 --seconds 30 --trace 0

One closed loop: a single driver issues ops back to back on
``local[nproc - 1]``.  ``--trace 0`` times the ops with tracing off and prints
the end-to-end metrics; ``--trace 1`` runs the traced sequence of
``layers.py`` and prints the per-layer metrics.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Everything the run writes stays under ``.perfbench_work/``
and is removed at exit, except the span file of a traced run, which is
kept in ``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "fluent_plugin_detect_exceptions_spark"
WORKLOADS = ("skew_mix", "distinct_lines")
#: timed rounds, at least
MIN_ROUNDS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the package must be importable by the Python workers Spark forks, and
    # every temporary file must stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    import ops
    import workloads

    spark = None
    try:
        t0 = time.perf_counter()
        spark = ops.build_spark(work)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        t = time.perf_counter()
        data = os.path.join(work, "data")
        wl = workloads.build(args.workload, args.seed, data)
        warm_wl = workloads.build(args.workload, args.seed, data, warm_up=True)
        gen_s = time.perf_counter() - t
        log(f"{wl.name}: {wl.n_rows} rows, {wl.n_convs} conversations, {wl.props}")

        loop = Loop(spark, wl, work)
        t = time.perf_counter()
        loop.warm_up(warm_wl)
        warm_s = time.perf_counter() - t
        log("warm-up op seconds: " + json.dumps(loop.times))
        loop.clear_times()
        setup_s = session_s + gen_s + warm_s
        log(f"setup: session {session_s:.2f}s, generate {gen_s:.2f}s, warm-up {warm_s:.2f}s")

        if args.trace:
            import layers

            metrics = layers.traced_run(spark, wl, loop, args)
        else:
            metrics = loop.measure(args.seconds)
            metrics["setup_s"] = (setup_s, "s")
        attempted, failed = loop.attempted, len(loop.failures)
    finally:
        if spark is not None:
            ops.stop_spark(spark)
    for f in loop.failures:
        log(f"FAILED {f}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


class Loop:
    """Issues ops back to back and checks each op's outputs."""

    #: the timed ops; the stream op runs in the traced run only
    KINDS = ("routed", "counts")
    #: one round of timed ops
    ROUND = ("routed", "counts")

    def __init__(self, spark, wl, work: str):
        self.spark, self.wl, self.work = spark, wl, work
        self.attempted = 0
        self.failures: list[str] = []
        self._n = 0
        self.clear_times()

    def clear_times(self) -> None:
        """Forget the timings so far (the warm-up's); failures stay counted."""
        self.times = {k: [] for k in (*self.KINDS, "stream")}

    def one(self, kind: str, layer=None):
        """Run one op of ``kind`` and check its outputs; returns
        ``(seconds, outputs)``, or None if it failed."""
        import ops

        self._n += 1
        self.attempted += 1
        out_dir = os.path.join(self.work, f"out{self._n}")
        wrap = layer or (lambda name, fn: fn())
        try:
            if kind == "routed":
                dt, info = wrap("op.routed", lambda: ops.routed(self.spark, self.wl, out_dir, layer))
                n_lines = ops.routed_n_lines(out_dir)
                errs = ops.check(kind, info["sink_counts"], self.wl.batch, n_lines)
            elif kind == "counts":
                dt, info = wrap("op.counts", lambda: ops.counts(self.spark, self.wl, layer))
                errs = ops.check(kind, info, self.wl.batch)
            else:
                dt, info = wrap("op.stream", lambda: ops.stream(self.spark, self.wl, out_dir, layer))
                sinks, n_lines = ops.stream_outputs(info)
                errs = ops.check(kind, sinks, self.wl.stream, n_lines)
        except Exception as e:  # an op that raises is a failed op
            dt, info, errs = None, None, [f"{kind}: {type(e).__name__}: {e}"]
        finally:
            ops.remove(out_dir)
        if errs:
            self.failures.extend(errs)
            return None
        self.times[kind].append(dt)
        return dt, info

    def warm_up(self, wl) -> None:
        """One routed op, then one counts op, on the small warm-up input
        ``wl``: the first op of a fresh JVM costs 10-15 s more than a warm
        one, whatever its input (class loading, code generation, Python
        worker start), and the first counts op after it still runs slow.
        The timed ops after them keep speeding up for several more ops; that
        trend is part of the throughput."""
        timed, self.wl = self.wl, wl
        try:
            self.one("routed")
            self.one("counts")
        finally:
            self.wl = timed

    def measure(self, seconds: float) -> dict:
        """As many rounds of ``ROUND`` as fit in ``seconds`` on the reference
        machine (``wl.round_s`` each), at least ``MIN_ROUNDS``.  The count is
        fixed before timing starts.  Ops speed up for several ops after the
        warm-up, so a stop on the clock would give a slow run fewer ops, and
        only the slower early ones, which widened the run-to-run spread in
        trials."""
        rounds = max(MIN_ROUNDS, int(seconds // self.wl.round_s))
        for _ in range(rounds):
            for kind in self.ROUND:
                self.one(kind)
        log(f"{rounds} rounds, op seconds: " + json.dumps(self.times))

        def per_s(kind):
            """Turns over the median wall time of the timed ops of ``kind``;
            0 when every op of the kind failed."""
            t = self.times[kind]
            return self.wl.n_rows / statistics.median(t) if t else 0.0

        return {
            "routed_turns_per_s": (per_s("routed"), "turns/s"),
            "counts_turns_per_s": (per_s("counts"), "turns/s"),
        }

def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
