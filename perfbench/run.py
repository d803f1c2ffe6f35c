"""Seeded end-to-end benchmark of the corpus cleaner, with a traced mode
that splits a run into per-layer numbers.

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 6 --trace 0

Workloads (perfbench/workloads.py): ``crawl_filter``, ``recrawl_curate``,
``embed_semdedup``. One process, ``local[nproc/2]``, one client: runs are
issued back to back (a closed loop), one Spark job at a time.

A process sets up once, in a fresh JVM: session start, package shipping,
trie broadcast, input generation and parquet write, and one warm-up run;
that is ``setup_s``. (The package's module-level pandas UDFs bind to the
first JVM of a process, so a second set-up would need a second process.)
The warm-up's output passes the workload's independent checks and, when
the seed is pinned in perfbench/digests.json, its digest. Then the timed
loop runs the workload until its runs add up to ``--seconds``, and at least
``MIN_RUNS`` times; every run's committed output must equal the warm-up's,
compared outside the run's timed window. ``wall_s`` is the median run.

Runs in a fresh JVM keep getting faster for about ten runs while the JIT
compiles Spark's hot paths (recrawl_curate at 240 rows on a 4-core VM,
after its first run: 6.6, 6.5, 6.3, 6.2, 5.8, 5.3, 5.6, 5.7, 5.0 s), and on
a shared host any one run may be slowed by a neighbour. So ``wall_s`` is
the median of at least three timed runs, which one slow run cannot move,
and the window counts run time only, not the output checks between runs:
the number of runs, and so their places on that curve, depend on the runs
alone. At the sizes chosen (runs of 2-8 s) a window of a few seconds holds
exactly ``MIN_RUNS`` runs, the 2nd to 4th of the JVM.

``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median run),
``rows_per_s``, ``setup_s`` and ``peak_rss_mb`` (driver Python + JVM +
Python workers, from /proc, during the timed loop). ``--trace 1`` makes the
same timed loop and then one traced run (perfbench/tracing.py), and prints
the per-layer metrics; its spans go to perfbench/out/traces/.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 when
every check passed, 1 when one failed, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402  (perfbench/engine.py; imports no package code)

END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
DIGESTS = os.path.join(HERE, "digests.json")
# timed runs per invocation at least, so that wall_s is a median that one
# slow run cannot move
MIN_RUNS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def load_pins() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def emit(record: dict, name: str) -> str:
    """Keep a result or trace record under perfbench/out/; returns its path."""
    d = os.path.join(engine.OUT_DIR, name)
    os.makedirs(d, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(
        d, f"{record['workload']}-seed{record['seed']}-{stamp}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def setup(wl, args, work, cores):
    """One set-up: fresh JVM and session, shipped package, broadcast trie,
    generated input, and one warm-up run. Returns the engine, the input,
    and the warm-up's result and output directory."""
    from chinese_corpus_cleaning_spark.sources.wordlists import broadcast_trie

    eng = engine.Engine(work, cores)
    eng.ship_package(work)
    eng.trie_bc = broadcast_trie(eng.spark)
    inp = wl.generate(args.seed, work.sub("input"), cores)
    out = work.sub("warmup")
    return eng, inp, wl.run(eng, inp, out), out


def same_output(wl, res, out, ref, ref_digest) -> bool:
    return res.counts == ref.counts and wl.output_digest(res, out) == ref_digest


def timed_loop(wl, eng, inp, ref, ref_digest, work, seconds):
    """Closed loop: run, compare the committed output with the warm-up's,
    repeat until the runs add up to ``seconds`` and there are at least
    MIN_RUNS of them. Returns (walls, runs, failed)."""
    walls, runs, failed = [], [], 0
    while len(runs) < MIN_RUNS or sum(r["wall_s"] for r in runs) < seconds:
        out = os.path.join(work.path, f"run-{len(runs)}")
        rec = {"loadavg_before": engine.loadavg()}
        steal0 = engine.cpu_steal_s()
        t0 = time.perf_counter()
        try:
            res = wl.run(eng, inp, out)
            wall = time.perf_counter() - t0
            ok = same_output(wl, res, out, ref, ref_digest)
        except Exception:
            traceback.print_exc()
            wall, ok = time.perf_counter() - t0, False
        rec.update(
            wall_s=wall,
            ok=ok,
            loadavg_after=engine.loadavg(),
            steal_s=engine.cpu_steal_s() - steal0,
        )
        runs.append(rec)
        shutil.rmtree(out, ignore_errors=True)
        if ok:
            walls.append(wall)
        else:
            failed += 1
            print(f"perfbench: run {len(runs)} output differs", file=sys.stderr)
            if failed >= 3:
                break
    return walls, runs, failed


def traced_run(wl, eng, inp, ref, ref_digest, work, wall_s):
    """One run with every layer spanned and forced; returns (metrics,
    trace record, errors)."""
    from tracing import Tracer
    from workloads import LAYER_METRICS

    tracer = Tracer(eng.sc, eng.cores)
    out = os.path.join(work.path, "traced")
    with tracer.patch(wl.trace_targets()):
        with tracer.span("run"):
            res = wl.run(eng, inp, out, span=tracer.span)
    tracer.finish()
    root = tracer.root()
    spans = tracer.spans
    metrics = {name: 0 for name in LAYER_METRICS}
    metrics.update(wl.layer_metrics(tracer, inp, res))
    metrics.update(
        {
            "spark.jobs": tracer.total(spans, "jobs"),
            "spark.stages": tracer.total(spans, "stages"),
            "spark.tasks": tracer.total(spans, "tasks"),
            "spark.task_s": tracer.total(spans, "task_s"),
            "spark.gc_share": tracer.total(spans, "gc_s")
            / max(1e-9, tracer.total(spans, "task_s")),
            "spark.shuffle_bytes": tracer.total(spans, "shuffle_bytes"),
            "spark.spill_bytes": tracer.total(spans, "spill_bytes"),
            "spark.sched_floor_s": tracer.sched_floor_s(root.dur, spans),
            "trace.total_s": root.dur,
            "trace.overhead_s": root.dur - wall_s,
        }
    )
    errors = tracer.nesting_errors()
    if not same_output(wl, res, out, ref, ref_digest):
        errors.append("traced output differs from the warm-up's")
    errors += [
        f"{m} is {metrics[m]}, not > 0" for m in wl.NONZERO if not metrics[m] > 0
    ]
    record = {
        **tracer.as_dict(),
        # with the spans nested one after another, the self times
        # partition the traced total
        "self_sum_s": tracer.self_total(spans),
        "total_s": root.dur,
        "layer_metrics": metrics,
        "errors": errors,
    }
    return metrics, record, errors


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, engine.ROOT)
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.size)
    # Spark gets half the host's cores as task slots. A Python-UDF task
    # keeps two threads busy (the JVM task thread and its Python worker),
    # and beside the tasks run the driver thread, the JIT compiler and the
    # collector, so local[nproc] on a shared 4-core VM measured the
    # scheduler as much as the program.
    cores = max(1, engine.host_cores() // 2)
    import pyspark

    meta = {
        "workload": wl.name,
        "seed": args.seed,
        "size": args.size,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "host_cores": engine.host_cores(),
        "driver_memory_mb": engine.driver_memory_mb(),
        "pyspark": pyspark.__version__,
        "git_sha": engine.git_sha(),
        "source_digest": engine.source_digest(),
        "loadavg_start": engine.loadavg(),
    }
    work = engine.Workdir()
    eng = None
    try:
        t0 = time.perf_counter()
        eng, inp, ref, ref_out = setup(wl, args, work, cores)
        setup_s = time.perf_counter() - t0
        props = wl.check(eng, inp, ref, ref_out)
        pinned = wl.output_digest(ref, ref_out)
        key = f"{wl.name}/{args.size}/{args.seed}"
        pins = load_pins()
        if key in pins and pins[key] != pinned:
            raise workloads.CheckFailed(
                f"digest {pinned} != pinned {pins[key]} for {key}"
            )

        sampler = engine.RssSampler().start()
        walls, runs, failed = timed_loop(
            wl, eng, inp, ref, pinned, work, args.seconds
        )
        peak_rss_mb = sampler.stop()
        wall_s = statistics.median(walls or [r["wall_s"] for r in runs])
        e2e = {
            "wall_s": wall_s,
            "rows_per_s": inp.rows / wall_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
        }
        attempted = len(runs)
        layer = None
        if args.trace:
            layer, trace_record, errors = traced_run(
                wl, eng, inp, ref, pinned, work, wall_s
            )
            attempted += 1
            for e in errors:
                print(f"perfbench: traced run: {e}", file=sys.stderr)
            failed += 1 if errors else 0
            meta["trace_file"] = emit({**meta, **trace_record}, "traces")
        meta["loadavg_end"] = engine.loadavg()
    except Exception:
        traceback.print_exc()
        print("perfbench: set-up or output check failed", file=sys.stderr)
        return 1
    finally:
        if eng is not None:
            eng.stop()
        work.close()

    record = {
        **meta,
        "input": inp.props,
        "output": props,
        "digest": pinned,
        "runs": runs,
        "peak_rss_parts": sampler.parts,
        "failed_frac": failed / attempted,
        "end_to_end": e2e,
        "per_layer": layer,
    }
    path = emit(record, "results")
    print(json.dumps({k: v for k, v in record.items() if k not in ("runs", "per_layer")}))
    print(f"result {os.path.relpath(path, engine.ROOT)}")
    if layer is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        metrics = {
            k: {"value": v, "unit": workloads.LAYER_METRICS[k]} for k, v in layer.items()
        }
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {failed / attempted:.6g} ratio")
    if "doc_error_frac" in props:
        print(f"doc_error_frac {props['doc_error_frac']:.6g} ratio")
    correct = failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
