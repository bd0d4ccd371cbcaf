"""Benchmark of the xarray-beam-on-Spark pipeline.

    python3 perfbench/run.py --workload era5_rechunk --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. One client runs one operation at a time
(closed loop) on ``local[nproc // 2]`` for ``--seconds`` of operation time,
verifies every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it holds the run's details and host
context; both, and the trace's spans, are also saved under
``.perfbench_work/results/``. See ``perfbench/README.md``.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("era5_rechunk", "xb_queries")

# spans around public library calls -> per-layer metric of their duration
SPAN_METRICS = {
    "zarr_io.from_zarr": "zarr_io.from_zarr_s",
    "dataset.map_blocks": "dataset.map_blocks.construct_s",
    "dataset.rechunk": "dataset.rechunk.construct_s",
    "dataset.groupby_reduce": "dataset.groupby_reduce.construct_s",
    "registry.construct": "registry.construct_s",
    "registry.exec": "registry.exec_s",
}
# engine counters (observability.KNOWN) reported per operation
COUNTERS = (
    "read.bytes", "write.bytes", "write.chunks",
    "map_blocks.input_bytes", "split.pieces", "consolidate.groups",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _median(values):
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_cpu_s: list[float] = []
        self.detail: dict = {"workload": args.workload, "trace": args.trace}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from pyspark import cloudpickle

        import perfbench.workloads as wmod
        from xarray_beam_spark.session import get_spark
        from xarray_beam_spark.shipping import ensure_shipped

        # the map_blocks function lives here, not in the shipped package
        cloudpickle.register_pickle_by_value(wmod)
        parts = {}
        t_start = time.perf_counter()
        self.wl = wmod.WORKLOADS[self.args.workload](None, self.run_dir)
        t0 = time.perf_counter()
        self.wl.make_inputs(self.args.seed)
        parts["fixture.synth_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark = self.wl.spark = get_spark("perfbench")
        parts["session.get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        ensure_shipped(self.spark)
        parts["shipping.ensure_shipped_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.prepare_checks()
        unverified = time.perf_counter() - t0
        problems, check_s = self.wl.warmup()
        self.problems += problems
        self.setup_s = time.perf_counter() - t_start - unverified - check_s
        self.setup_parts = parts
        self.cores = self.spark.sparkContext.defaultParallelism
        self.detail["setup_parts_s"] = parts
        self.detail["warmup_problems"] = problems

    # -- one verified operation ------------------------------------------
    def _op(self, tr=None) -> tuple[float, object]:
        """Run, time and verify one operation; returns its wall time and
        its output (None if it raised), and appends its process-tree CPU
        time to ``op_cpu_s``."""
        from perfbench.host import tree_cpu_s
        from perfbench.workloads import NULL

        tr = tr or NULL
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op", workload=self.wl.name):
                out = self.wl.op(tr)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"operation raised: {traceback.format_exc(limit=1)}")
            self.op_cpu_s.append(tree_cpu_s() - cpu0)
            return time.perf_counter() - t0, None
        seconds = time.perf_counter() - t0
        self.op_cpu_s.append(tree_cpu_s() - cpu0)
        self.attempted += 1
        problems = self.wl.verify(out)
        if problems:
            self.failed += 1
            self.problems += problems
        return seconds, out

    def _at_pass_end(self) -> bool:
        return self.attempted % self.wl.pass_len == 0

    def _too_many_failures(self) -> bool:
        return self.failed >= 3 and self.failed * 2 > self.attempted

    # -- untraced: end-to-end metrics -----------------------------------
    def measure(self, sampler) -> dict[str, float]:
        op_s: list[float] = []
        peaks: list[int] = []
        self.attempted = 0
        while not (sum(op_s) >= self.args.seconds and self._at_pass_end()):
            sampler.reset()
            seconds, out = self._op()
            sampler.sample()  # an operation shorter than the interval
            peaks.append(sampler.peak_bytes)
            op_s.append(seconds)
            self.wl.discard(out)
            if self._too_many_failures():
                break
        p50 = _median(op_s)
        self.detail["op_s"] = op_s
        self.detail["op_cpu_s"] = self.op_cpu_s[-len(op_s):]
        self.detail["op_peak_rss_mb"] = [p / 1e6 for p in peaks]
        if len(op_s) >= 10:
            self.detail["op_p90_s"] = {
                "value": statistics.quantiles(op_s, n=10)[-1], "unit": "s", "samples": len(op_s),
            }
        return {
            "op_p50_s": p50,
            "mb_s_per_core": self.wl.source_bytes / 1e6 / p50 / self.cores,
            "peak_rss_mb": _median(peaks) / 1e6,
            "setup_s": self.setup_s,
        }

    # -- traced: per-layer metrics --------------------------------------
    def measure_traced(self) -> dict[str, float]:
        from perfbench import kernels
        from perfbench.spans import Tracer, spark_totals
        from xarray_beam_spark.observability import get_counters

        tr = Tracer(self.spark)
        counters = get_counters(self.spark)
        untraced_s: list[float] = []
        traced_s: list[float] = []
        per_op: list[dict[str, float]] = []
        probes: list[dict[str, float]] = []
        self.attempted = 0
        t_start = time.perf_counter()
        n_pass = 0
        while time.perf_counter() - t_start < self.args.seconds or n_pass % 2:
            # alternate untraced and traced passes; each pair flips order
            traced = (n_pass % 2 == 1) != (n_pass // 2 % 2 == 1)
            for _ in range(self.wl.pass_len):
                if not traced:
                    seconds, out = self._op()
                    untraced_s.append(seconds)
                    self.wl.discard(out)
                    continue
                counters.reset()
                n_spans = len(tr.spans)
                seconds, out = self._op(tr)
                traced_s.append(seconds)
                op_spans = tr.spans[n_spans:]
                tr.attribute(op_spans)
                rec = spark_totals(op_spans, self.cores)
                if out is not None:
                    rec.update(self.wl.output_metrics(out))
                    self.wl.discard(out)
                for span in op_spans:
                    if span.name in SPAN_METRICS:
                        key = SPAN_METRICS[span.name]
                        rec[key] = rec.get(key, 0.0) + span.seconds
                snap = counters.snapshot()
                rec.update({f"obs.{c}": float(snap.get(c, 0)) for c in COUNTERS})
                per_op.append(rec)
            if traced and self.wl.pass_len == 1:
                probes.append(self.wl.layer_probe(tr))
            n_pass += 1
            if self._too_many_failures():
                break
        layer: dict[str, float] = dict(self.setup_parts)
        for key in sorted({k for rec in per_op for k in rec}):
            layer[key] = _median([rec.get(key, 0.0) for rec in per_op])
        for key in sorted({k for p in probes for k in p}):
            layer[key] = _median([p[key] for p in probes])
        if "write_prefix_s" in layer:
            layer["zarr_io.write_extra_s"] = _median(traced_s) - layer.pop("write_prefix_s")
        layer.update(kernels.measure(self.wl.kernel_chunk(), self.run_dir))
        layer["trace.overhead_s"] = _median(traced_s) - _median(untraced_s)
        self.detail["traced_op_s"] = traced_s
        self.detail["untraced_op_s"] = untraced_s
        tr.write(os.path.join(self.run_dir, "spans.json"))
        self.spans_path = os.path.join(self.run_dir, "spans.json")
        return layer


def _select(values: dict[str, float], wanted: list[dict]) -> dict:
    """The metrics ``BENCHMARK.json`` lists, with their units. A listed
    metric the run did not measure reads 0 only for per-layer metrics of
    layers the workload does not exercise; an unlisted one is an error."""
    names = {m["name"] for m in wanted}
    extra = sorted(set(values) - names)
    if extra:
        raise KeyError(f"measured metrics missing from BENCHMARK.json: {extra}")
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xarray_beam_spark", "__init__.py")):
        print(f"perfbench: no xarray_beam_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import host

    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(
        work_root, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    results = os.path.join(work_root, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = host.fit_session_env(run_dir)
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # Spark's warehouse and derby files land here

    run = Run(args, run_dir)
    run.detail["context"] = host.context(ROOT, args.seed, env)
    steal0, total0 = host.cpu_steal_jiffies()
    sampler = host.RssSampler().start()
    metrics = None
    try:
        run.setup()
        if args.trace:
            metrics = _select(run.measure_traced(), spec["per_layer"])
        else:
            metrics = _select(run.measure(sampler), spec["end_to_end"])
    except Exception:  # noqa: BLE001 - report, then exit non-zero
        traceback.print_exc()
    finally:
        sampler.sample()
        sampler.stop()
        if getattr(run, "spark", None) is not None:
            host.stop_spark(run.spark)
        host.reap(sampler.seen)
        steal1, total1 = host.cpu_steal_jiffies()
        run.detail["context"]["loadavg_end"] = list(os.getloadavg())
        run.detail["context"]["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        os.chdir(ROOT)
        tag = os.path.basename(run_dir)
        if getattr(run, "spans_path", None):
            shutil.copy(run.spans_path, os.path.join(results, f"{tag}-spans.json"))
        shutil.rmtree(run_dir, ignore_errors=True)
    if metrics is None:
        return 1
    run.detail.update(attempted=run.attempted, failed=run.failed,
                      failed_ratio=run.failed / max(run.attempted, 1),
                      problems=run.problems[:20])
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"detail": run.detail, "result": result}, f, indent=1)
    print(json.dumps({"detail": run.detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
