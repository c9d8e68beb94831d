"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the JVM
harness (perfbench/src), checks every output (perfbench/oracle.py) and
prints, as its last stdout line, one JSON object with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. Everything is written under the build directory
(.bench_build, or $CARGO_TARGET_DIR); see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# workload -> scale factor of its generated tables
WORKLOADS = {"sf-queries": 0.01, "grid-scale": 0.1}
SETUPS = 3          # set-ups per run; setup_s is their median
RUN_DEADLINE_S = 170
CHECK_ALLOWANCE_S = 20


def run_harness(java, workload, data, out, seed, seconds, trace, rows, timeout_s):
    os.makedirs(os.path.join(out, "tmp"))
    cmd = java(os.path.join(out, "tmp")) + [f"workload={workload}", f"data={data}",
            f"out={out}", f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
            f"setups={SETUPS}"] + [f"rows.{t}={n}" for t, n in rows.items()]
    with open(os.path.join(out, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"harness exceeded {timeout_s:.0f} s")
    if code != 0:
        raise RuntimeError(f"harness exited with {code}; see {out}/harness.log")
    with open(os.path.join(out, "record.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    java = build.build()
    t_start = time.monotonic()  # the run's deadline excludes the build
    root = build.build_dir()
    data = os.path.join(root, "data", f"seed-{a.seed}")
    out = os.path.join(root, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)

    t0, c0 = time.perf_counter(), time.process_time()
    rows = gen.generate(data, a.seed, WORKLOADS[a.workload])
    gen_cost = {"wall_s": time.perf_counter() - t0, "cpu_s": time.process_time() - c0}

    budget = RUN_DEADLINE_S - CHECK_ALLOWANCE_S - (time.monotonic() - t_start)
    t1 = time.perf_counter()
    rec = run_harness(java, a.workload, data, out, a.seed, a.seconds, a.trace,
                      {t: rows[t] for t in ("lineitem", "documents")}, budget)

    t2 = time.perf_counter()
    if a.workload == "grid-scale":
        wrong = oracle.check_grid(rec, data)
    else:
        wrong = oracle.check_queries(out, data)
    for f in rec["warm_failures"]:
        wrong.setdefault(f["op"], f"failed in set-up {f['setup']}: {f['error']}")
    e2e, wall, attempted, failed, detail = metrics.end_to_end(rec, gen_cost, wrong)
    detail.update(harness_s=t2 - t1, check_s=time.perf_counter() - t2)
    values = e2e
    if a.trace:
        values, table = metrics.per_layer(rec, 1.0 - e2e["ok_frac"], wall)
        with open(os.path.join(out, "layers.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": values,
                       "ops": table}, fh)
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump({"end_to_end": e2e, "wall": wall, "detail": detail,
                   "wrong": {str(k): v for k, v in wrong.items()}}, fh, indent=1)
    for d in (data, os.path.join(out, "spark-local"), os.path.join(out, "tmp"),
              os.path.join(out, "catalog"), os.path.join(out, "results")):
        shutil.rmtree(d, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    for k, v in sorted(wrong.items(), key=str):
        print(f"perfbench: wrong {k}: {v}")
    print(f"perfbench: {a.workload} seed={a.seed} passes={detail['passes']} "
          f"samples={detail['samples']} tail_percentile={detail['tail_percentile']} "
          f"setups_s={[round(s, 3) for s in detail['setups_s']]} "
          f"pass_s={wall['pass_s']:.3f} "
          f"harness_s={detail['harness_s']:.1f} check_s={detail['check_s']:.1f} "
          f"record={os.path.relpath(out, os.path.dirname(HERE))}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
