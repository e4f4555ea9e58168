"""Benchmark entry point.

    python3 perfbench/run.py --workload munge --seed 1 --seconds 10 --trace 0

Generates (or reuses, checksum-verified) the seeded inputs of one workload,
starts one Spark session on ``local[nproc]``, sets the workload up once,
runs one untimed warm-up operation, then runs operations back to back in a
closed loop with one caller for ``--seconds``. Every operation's output is checked
against an independent reference; an operation that raises or fails a
check counts as failed. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it print every metric and run detail by name.

With ``--trace 1`` the set-up and warm-up are traced and the timed
operations alternate between traced and untraced, so the run also reports
the tracing overhead, and the spans go to
``.perfbench/traces/<run id>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import sys
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import common  # noqa: E402
import inputs  # noqa: E402
from common import BenchError, now  # noqa: E402

#: name -> (module, class). Each module also provides ``generate``.
WORKLOADS = {
    "munge": ("wl_munge", "Munge"),
    "serve": ("wl_serve", "Serve"),
}

END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("heap_live_mb", "MB"),
)


def program():
    """The program's public modules, imported from this checkout."""
    common.import_program()
    mods = {
        "session": "datamunging_spark.session",
        "functions": "datamunging_spark.functions",
        "sources": "datamunging_spark.sources",
        "versioned": "datamunging_spark.sources.versioned",
        "quality": "datamunging_spark.operators.quality",
        "sampling": "datamunging_spark.operators.sampling",
        "relational": "datamunging_spark.operators.relational",
        "ml": "datamunging_spark.operators.ml",
        "pipeline": "datamunging_spark.operators.pipeline",
        "spandedup": "datamunging_spark.operators.spandedup",
        "trainset": "datamunging_spark.operators.trainset",
        "dedup": "datamunging_spark.operators.dedup",
        "retrieval": "datamunging_spark.operators.retrieval",
        "similarity": "datamunging_spark.operators.similarity",
    }
    try:
        return SimpleNamespace(
            **{k: importlib.import_module(v) for k, v in mods.items()}
        )
    except ImportError as exc:
        raise BenchError(f"cannot import the program: {exc}") from exc




def run(args) -> tuple[dict, list[str]]:
    common.pin_env()
    dm = program()
    mod_name, cls_name = WORKLOADS[args.workload]
    mod = importlib.import_module(mod_name)
    in_dir, meta = inputs.ensure(args.workload, args.seed, args.size, mod.generate)

    run_dir = common.RunDir(args.workload, args.seed)
    lines: list[str] = []
    try:
        common.use_run_tmp(run_dir)
        steal0 = common.cpu_times()
        conf = common.spark_conf(run_dir)
        if args.trace:
            # keep every job and stage until the spans are resolved
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        t0 = now()
        spark = dm.session.get_spark("perfbench", **conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = now() - t0
        try:
            from spans import Tracer

            tracer = Tracer(spark, run_dir.run_id)
            ctx = SimpleNamespace(
                spark=spark, dm=dm, tracer=tracer, inputs=in_dir, meta=meta,
                run=run_dir, seed=args.seed, size=args.size,
            )
            wl = getattr(mod, cls_name)(ctx)
            state = SimpleNamespace(attempted=0, failed=0, notes=[])

            def count(what: str, fails: list[str]) -> None:
                state.attempted += 1
                if fails:
                    state.failed += 1
                    state.notes.append(f"{what}: " + "; ".join(fails))

            tracer.enabled = bool(args.trace)
            t = now()
            count("set-up", wl.setup())  # its checks count as one operation
            build_s = now() - t

            def one(i: int):
                t = now()
                try:
                    items, fails = wl.op(i)
                except Exception:  # noqa: BLE001 — counted, reported, run goes on
                    items, fails = 0, [traceback.format_exc(limit=4)]
                dt = now() - t
                count(f"op {i}", fails)
                return items, dt

            n_warm = wl.warmup_ops
            warm_s = sum(one(i)[1] for i in range(n_warm))
            setup_s = session_s + build_s + warm_s

            lat: list[float] = []
            traced: list[float] = []
            items_total = 0
            start = now()
            i = n_warm
            while (now() - start < args.seconds
                   or (args.trace and not (lat and traced))):
                tracer.enabled = bool(args.trace) and (i - n_warm) % 2 == 0
                with tracer.span("bench", f"op {i}"):
                    items, dt = one(i)
                (traced if tracer.enabled else lat).append(dt)
                if not tracer.enabled:
                    items_total += items
                i += 1
            tracer.enabled = False
            elapsed = now() - start - sum(traced)

            extras = wl.extras()
            rss = common.vm_hwm_mb() + common.vm_hwm_mb(common.jvm_pid(spark))
            old_gen = common.old_gen_peak_mb(spark)
            heap_live = common.heap_live_mb(spark)
            env = common.environment(spark)
            if args.trace:
                tracer.resolve()
        finally:
            common.stop_session(spark)
        steal = common.steal_share(steal0, common.cpu_times())
        probe_ms = common.host_probe_ms()

        ops = common.timing_ms(lat)
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": items_total / elapsed,
            "heap_live_mb": heap_live,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "run_id": run_dir.run_id, "env": env, "cpu_steal_share": steal,
            "session_start_s": session_s, "build_s": build_s,
            "warmup_s": warm_s, "timed_s": elapsed, "ops": ops,
            "old_gen_peak_mb": old_gen, "peak_rss_mb": rss, "host_probe_ms": probe_ms,
            "error_rate": state.failed / state.attempted,
            "latencies_ms": [x * 1e3 for x in lat],
            **extras,
        }
        for name, unit in END_TO_END:
            lines.append(f"{name} {e2e[name]:.6g} {unit}")
        lines.append(f"op_p50_ms {ops['p50_ms']:.6g} ms ({ops['n']} ops)")
        lines.append(f"op_tail_ms {ops['tail_ms']:.6g} ms "
                     f"({ops['tail']} of {ops['n']} ops)")
        lines.append(f"peak_rss_mb {rss:.6g} MB")
        lines.append(f"host_probe_ms {probe_ms:.6g} ms")
        lines.append(f"old_gen_peak_mb {old_gen:.6g} MB")
        lines.append(f"error_rate {detail['error_rate']:.6g} ratio "
                     f"({state.failed}/{state.attempted} ops)")
        for k, (v, unit, *note) in extras.items():
            lines.append(f"{k} {v:.6g} {unit}" + "".join(f" ({n})" for n in note))
        lines.append(f"env {json.dumps(env, sort_keys=True)} "
                     f"cpu_steal_share {steal:.4f}")
        for note in state.notes[:20]:
            lines.append("FAILED " + note.replace("\n", " | "))

        if args.trace:
            from spans import LAYER_METRICS, LAYERS

            layer = tracer.layer_metrics()
            overhead = (statistics.median(traced) - statistics.median(lat)) * 1e3
            units = {f"{lay}.{m}": u for lay in LAYERS for m, u in LAYER_METRICS}
            units.update({"session.start_s": "s", "trace.overhead_ms": "ms"})
            layer.update({"session.start_s": session_s,
                          "trace.overhead_ms": overhead})
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
            path = os.path.join(common.WORK, "traces", f"{run_dir.run_id}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tracer.write(path, {"detail": detail, "layers": layer})
            lines.append(f"trace.overhead_ms {overhead:.6g} ms "
                         f"({len(traced)} traced / {len(lat)} untraced ops)")
            lines.append(f"spans written to {os.path.relpath(path, common.ROOT)}")
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        common.dump_json(
            os.path.join(common.WORK, "results", f"{run_dir.run_id}.json"),
            {"detail": detail, "metrics": metrics},
        )
        result = {
            "correct": state.failed == 0,
            "attempted": state.attempted,
            "failed": state.failed,
            "metrics": metrics,
        }
        return result, lines
    finally:
        run_dir.close()


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, lines = run(args)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
