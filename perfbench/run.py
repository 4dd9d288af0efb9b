"""The repository benchmark: one workload, one seed, a fixed run time.

    python3 perfbench/run.py --workload <store_flow|ann_batch|curation_stream>
        --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), runs the workload on a local[4]
Spark session in one JVM, and prints the run record. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics, and the spans and per-op records are
written under <build dir>/results. The exit code is 0 only when every
op and every correctness check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

WORKLOADS = ("store_flow", "ann_batch", "curation_stream")
# a run outside the first (which also builds) must end within 180 s
JVM_TIMEOUT_S = 170


def fail(msg):
    sys.stderr.write("perfbench: " + msg + "\n")
    sys.exit(2)


def overhead(record, results):
    """Traced minus untraced value of each end-to-end metric, against the
    latest untraced run of the same workload and seed."""
    base = results / "{}-s{}-t0{}.json".format(
        record["workload"], record["seed"], "-tiny" if record["tiny"] else "")
    if not base.is_file():
        return None
    untraced = json.loads(base.read_text())["e2e"]
    return {k: {"value": v["value"] - untraced[k]["value"], "unit": v["unit"]}
            for k, v in record["e2e"].items() if k in untraced}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail("unknown workload %r; one of %s" % (a.workload, ", ".join(WORKLOADS)))
    if a.seconds <= 0:
        fail("--seconds must be positive")

    out_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not out_dir.is_absolute():
        out_dir = build.ROOT / out_dir
    out_dir = out_dir / "perfbench"
    out_dir.mkdir(parents=True, exist_ok=True)
    build.build(out_dir)

    results = out_dir / "results"
    results.mkdir(exist_ok=True)
    run_name = "{}-s{}-t{}{}".format(a.workload, a.seed, a.trace, "-tiny" if a.tiny else "")
    work = out_dir / "work" / "{}-{}".format(run_name, os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record_file = work / "record.json"
    cmd = ["java"] + build.jvm_options(work)
    jsa = build.archive(out_dir)
    if jsa:
        cmd.append("-XX:SharedArchiveFile=" + str(jsa))
    cmd += ["-cp", build.classpath(out_dir), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(record_file)]
    if a.tiny:
        cmd.append("--tiny")
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=str(work))
    try:
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("run exceeded %d s" % JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not record_file.is_file():
            fail("benchmark JVM exited with %s and no record" % proc.returncode)
        record = json.loads(record_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spans = record.pop("spans", None)
    op_records = record.pop("op_records", None)
    if spans is not None:
        with open(results / (run_name + ".spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        with open(results / (run_name + ".ops.jsonl"), "w") as f:
            for o in op_records:
                f.write(json.dumps(o) + "\n")
        record["spans_file"] = str(results / (run_name + ".spans.jsonl"))
        record["ops_file"] = str(results / (run_name + ".ops.jsonl"))
        record["tracing_overhead"] = overhead(record, results)
    (results / (run_name + ".json")).write_text(json.dumps(record, indent=1))

    print(json.dumps({k: v for k, v in record.items() if k != "layers"}))
    metrics = record["layers"] if a.trace else record["e2e"]
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    sys.exit(0 if record["correct"] else 1)


if __name__ == "__main__":
    main()
