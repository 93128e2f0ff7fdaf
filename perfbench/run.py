"""Extraction benchmark: one workload per run, driven by BENCHMARK.json.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload extract_ocr_heavy --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

A run generates (or finds cached) the seed's inputs, starts one Spark
session at ``local[<cpus>]``, runs the workload's cold pass and untimed warm
passes, times passes for ``--seconds``, checks the last pass's output
against the DuckDB oracle and prints the metrics. A pass that raises ends
the timing and counts every document as failed. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). ``--workload all`` runs every workload in turn
and prints a table instead.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
INPUTS = os.path.join(STATE, "inputs")
WORKLOADS = ["extract_ocr_heavy", "extract_dedup_heavy"]


def _cpus() -> int:
    """Spark's local parallelism: the CPUs this process may use, less one
    for the Spark driver, the JVM's own threads and the system, so that a
    task's Python worker is not descheduled by them and the pass walls
    measure the program rather than the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _env() -> dict:
    """Environment for this process, the JVM and Spark's Python workers:
    the checkout on PYTHONPATH (workers import easyocr_spark from it) and
    every scratch location inside the checkout."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "EASYOCR_SPARK_CACHE": os.path.join(INPUTS, "media"),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM", "4g"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def _spark_conf() -> dict:
    # A fixed young generation (-Xmn) and initial heap (-Xms) keep the JVM's
    # peak RSS a function of the memory the program retains: with G1's
    # adaptive sizing it varied by 15-18% between identical runs. No perf
    # data file: the JVM would write it under /tmp, outside the checkout.
    java = (f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -Xms2g -Xmn768m "
            "-XX:-UsePerfData")
    return {"spark.ui.showConsoleProgress": "false", "spark.driver.extraJavaOptions": java}


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dp, dns, fns in os.walk(os.path.join(ROOT, "easyocr_spark")):
        dns.sort()
        paths += [os.path.join(dp, f) for f in sorted(fns) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _ensure_inputs(seed: int, cpus: int):
    from perfbench.inputs import generate_seed

    paths = generate_seed(INPUTS, seed)
    if not paths.media_ready():
        # rendering needs Spark: its own process and JVM, so none of its
        # time or warm-up reaches the measured session
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", "--media", "--root", INPUTS,
             "--cpus", str(cpus)],
            cwd=ROOT, check=True, stdout=sys.stderr, timeout=600,
        )
    return paths


def _metric_units() -> tuple[dict, dict]:
    with open(BENCHMARK) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One run of one workload in this process."""
    from perfbench import workloads
    from perfbench.inputs import spec_version
    from perfbench.tracing import SparkCounters, Tracer, peak_rss_mb, stop_session

    cpus = _cpus()
    t_in = time.perf_counter()
    paths = _ensure_inputs(seed, cpus)
    phases = {"inputs_s": time.perf_counter() - t_in}
    run_id = f"{workload}-s{seed}-{os.getpid()}"
    tracer = Tracer(run_id, trace)
    work_dir = os.path.join(STATE, "work", run_id)

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from easyocr_spark.session import get_spark

        spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=_spark_conf())
    start_s = time.perf_counter() - t0
    try:
        counters = SparkCounters(spark)
        ctx = workloads.Context(spark, cpus, paths, work_dir, tracer, counters, seed)
        wl = workloads.make(workload, ctx)
        ok = _pass(wl) is not None  # cold pass: part of set-up, so work moved there shows
        setup_s = time.perf_counter() - t0
        for _ in range(wl.warm_passes):
            ok = ok and _pass(wl) is not None
        phases.update(session_s=start_s, setup_s=setup_s,
                      warm_s=time.perf_counter() - t0 - setup_s)
        t_timed = time.perf_counter()

        walls: list[float] = []
        traced_walls: list[float] = []
        engine: list[dict] = []
        t_end = time.perf_counter() + seconds
        # trace runs alternate untraced and traced passes; one of each at least
        while ok and (not walls or (trace and not traced_walls)
                      or time.perf_counter() < t_end):
            traced = trace and len(walls) > len(traced_walls)
            tracer.enabled = traced
            if traced:
                with tracer.span("pass"), counters.group(workload) as grp:
                    wall = _pass(wl)
                if wall is not None:
                    engine.append(counters.summary(grp["jobs"], wall, cpus))
                    engine[-1]["spark.persisted_rdds_after"] = counters.persisted_rdds()
                    traced_walls.append(wall)
            else:
                wall = _pass(wl)
                if wall is not None:
                    walls.append(wall)
            ok = wall is not None
        tracer.enabled = trace
        phases["timed_s"] = time.perf_counter() - t_timed
        t_check = time.perf_counter()
        if ok:
            attempted, failed = wl.check()
        else:  # a job that fails counts every document as failed
            attempted = failed = wl.n_docs
        rss = peak_rss_mb(os.getpid())
        phases["check_s"] = time.perf_counter() - t_check
        t_layers = time.perf_counter()

        metrics: dict = {}
        if trace and ok:
            metrics["session.start_s"] = start_s
            metrics.update(workloads.sources_layers(ctx))
            metrics.update(wl.layers())
            attempted += metrics.pop("_attempted", 0)
            failed += metrics.pop("_failed", 0)
            for key in engine[0]:
                metrics[key] = statistics.median(e[key] for e in engine)
            metrics["trace.overhead_s"] = (
                statistics.median(traced_walls) - statistics.median(walls)
            )
            tracer.dump(os.path.join(STATE, "traces", f"{run_id}.jsonl"))
            phases["layers_s"] = time.perf_counter() - t_layers
        elif not trace:
            # after a failure: the passes that completed, else the whole run
            wall_s = statistics.median(walls) if walls else time.perf_counter() - t0
            metrics = {
                "docs_per_s": wl.n_docs / wall_s,
                "wall_s": wall_s,
                "setup_s": setup_s,
                "peak_rss_mb": sum(rss.values()),
            }
        metrics["_walls"] = walls
        metrics["_rss"] = {k: round(v) for k, v in rss.items()}
        metrics["_failed_share"] = failed / attempted
        stamp = {"workload": workload, "seed": seed, "cpus": cpus, "sf": wl.sf,
                 "media_spec_version": spec_version(), "spark": spark.version,
                 "git_commit": _git_commit(), "source_digest": _source_digest()}
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t_stop
        print(f"# phases {json.dumps({k: round(v, 2) for k, v in phases.items()})}",
              file=sys.stderr)
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "stamp": stamp}


def _pass(wl) -> float | None:
    """Wall of one pass, or None when it raised (traceback on stderr)."""
    t0 = time.perf_counter()
    try:
        wl.run_pass()
    except Exception:  # noqa: BLE001 - a failing job is a measured outcome
        traceback.print_exc()
        return None
    return time.perf_counter() - t0


def _result_line(res: dict, trace: bool) -> str:
    e2e, layer = _metric_units()
    units = layer if trace else e2e
    got = res["metrics"]
    metrics = {name: {"value": float(got.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    return json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def _run_all(args) -> int:
    """Each workload in its own process; one table of every metric."""
    rows = []
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-4000:])
            print(f"{name}: failed with exit code {out.returncode}")
            return 1
        stamp = json.loads(next(x for x in lines if x.startswith("# stamp "))[8:])
        res = json.loads(lines[-1])
        rows.append((name, res, stamp))
    for name, res, stamp in rows:
        print(f"== {name}  (cpus={stamp['cpus']} sf={stamp['sf']} "
              f"media_spec_version={stamp['media_spec_version']} seed={stamp['seed']} "
              f"spark={stamp['spark']} commit={stamp['git_commit']})")
        share = res["failed"] / res["attempted"]
        print(f"   {'failed_share':32s} {share:14.6f} share  "
              f"({res['failed']} of {res['attempted']})")
        for mname, m in res["metrics"].items():
            print(f"   {mname:32s} {m['value']:14.6f} {m['unit']}")
    return 0 if all(r["failed"] == 0 for _, r, _ in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="Extraction benchmark (see BENCHMARK.json).")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "easyocr_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the root of a checkout (easyocr_spark/ and "
              "__spark_entry__.py not found here)", file=sys.stderr)
        return 2
    os.environ.update(_env())
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return _run_all(args)
    res = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"# stamp {json.dumps(res['stamp'])}")
    print(f"# failed_share {res['metrics']['_failed_share']:.6f} share "
          f"({res['failed']} of {res['attempted']}); timed pass walls (s) "
          f"{[round(w, 4) for w in res['metrics']['_walls']]}; peak rss (MB) "
          f"{res['metrics']['_rss']}")
    print(_result_line(res, bool(args.trace)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
