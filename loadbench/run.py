"""Run one workload of the load benchmark and print its result.

    python3 loadbench/run.py --workload search --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). Lines before it start with ``#``: the run's sizing and,
when traced, the per-layer table. Everything the run writes stays under
``.loadbench-work/`` (removed at exit) and, when traced, the span file
under ``.loadbench-out/``.

Exit code 2: the package or its toolchain cannot be imported. Exit code
1: the run itself failed; no result line is printed then.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a run that has not finished by then is stopped (the JVM with it)
DEADLINE_S = 170


def _prepare_env(work: str) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ.pop("SPARK_GRAFT_DRIVER_BLOCK_CACHE_MB", None)


def _kill_jvm() -> None:
    """Stop the driver JVM if a failed run left it running."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def _layer_table(metrics_mod, values: dict) -> list[str]:
    lines = [f"# {'metric':<34} {'value':>14} {'unit':<6} {'moves':<26} on"]
    for name, (unit, _better, target, wl, how) in metrics_mod.LAYERS.items():
        lines.append(
            f"# {name:<34} {values.get(name, 0.0):>14.4f} {unit:<6} {target:<26} {wl}  [{how}]"
        )
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import the benchmark as the package ``loadbench``, never its files
    # as top-level modules (``oracle`` would shadow the repo's own)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import snowplow_elasticsearch_loader_spark  # noqa: F401
    except ImportError as e:
        print(f"loadbench: cannot import the program or its toolchain: {e}", file=sys.stderr)
        return 2
    from loadbench import metrics as metrics_mod
    from loadbench import workloads

    work = os.path.join(ROOT, ".loadbench-work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(DEADLINE_S)
    t0 = time.perf_counter()
    try:
        run, e2e = workloads.WORKLOADS[args.workload](
            args.seed, args.seconds, bool(args.trace), work
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        _kill_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    wall = time.perf_counter() - t0

    sizing = dict(
        run.sizing,
        workload=args.workload,
        seed=args.seed,
        nproc=len(os.sched_getaffinity(0)),
        local_n=workloads.local_cores(),
        spark=pyspark.__version__,
        pyarrow=__import__("pyarrow").__version__,
        index_decoded_mb=round(run.layer.get("sizing.index_decoded_mb", 0.0), 3),
        index_over_cache=round(run.layer.get("sizing.index_over_cache", 0.0), 4),
        touched_over_cache=round(run.layer.get("sizing.touched_over_cache", 0.0), 4),
        wall_s=round(wall, 2),
        phases=run.phases,
    )
    print("# sizing " + json.dumps(sizing))
    if args.trace:
        run.layer["trace.bookkeeping_share"] = run.tracer.bookkeeping_s / wall
        out_dir = os.path.join(ROOT, ".loadbench-out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        print("\n".join(_layer_table(metrics_mod, run.layer)))
        print(
            "# trace overhead: tracer bookkeeping "
            f"{run.tracer.bookkeeping_s:.4f} s of {wall:.1f} s wall; "
            "end-to-end under tracing (compare with an untraced run of the same seed): "
            + json.dumps({k: round(v, 4) for k, v in e2e.items()})
        )
        values = {name: float(run.layer.get(name, 0.0)) for name in metrics_mod.LAYERS}
        units = {name: spec[0] for name, spec in metrics_mod.LAYERS.items()}
    else:
        values = {name: float(e2e[name]) for name in metrics_mod.END_TO_END}
        units = {name: spec[0] for name, spec in metrics_mod.END_TO_END.items()}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
