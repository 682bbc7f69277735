"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload topk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, the ``per_layer`` metrics
with ``--trace 1``. Lines before it are ``# name value unit`` details.
Everything the run writes lands under ``.perfbench_work/`` in the
checkout; see perfbench/README.md for workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _configure_env(work: str, trace: bool) -> None:
    """Pinned session settings. get_spark() takes no extra conf, so the
    event log and console settings go in through PYSPARK_SUBMIT_ARGS."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
             "-XX:-UsePerfData"]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{evdir}"]
    args = []
    for c in confs:
        args += ["--conf", c]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.environ["TMPDIR"] = tmp
    os.environ["LSS_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["LSS_DRIVER_MEM"] = "4g"
    os.environ.setdefault("PYTHONHASHSEED", "0")


def main(argv=None) -> int:
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-"
                        f"t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, bool(args.trace))

    # Spark's JVM inherits fd 2: send it (and our own stderr) to a log
    # file, so the console stays clean and the log can be scanned
    log_path = os.path.join(work, "spark.log")
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        sys.path.insert(0, ROOT)
        import workloads  # noqa: E402  (sibling module; needs sys.path)

        result = workloads.run(args.workload, args.seed, args.seconds,
                               bool(args.trace), work, log_path)
    except Exception:
        traceback.print_exc()
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(line[:300].rstrip() + "\n" for line in tail))
        sys.stderr.write(f"benchmark failed; full log: {log_path}\n")
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        for big in ("index", "corpus", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(work, big), ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result.metrics]
    if missing:
        sys.stderr.write(f"metrics not measured: {missing}\n")
        return 1
    for name, (value, unit) in sorted(result.details.items()):
        print(f"# {name} {value:.6g} {unit}")
    out = {
        "correct": result.failed == 0 and result.attempted > 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {m["name"]: {"value": result.metrics[m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
