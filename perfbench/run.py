#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics; see perfbench/README.md.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 10 --trace 0

Builds first if any source changed (perfbench/build.py, limited to
build.BUILD_LIMIT_S), then runs the Scala entry point perfbench.Main in one
JVM, limited to JVM_TIMEOUT_S. The last stdout line is the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

import build

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ann_serve", "pipeline_dedup")
# a run that does not build must end within 180 s, one that builds within
# 900 s; leave room to stop the JVM and clean up
JVM_TIMEOUT_S = 165


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    # a caller's SIGTERM unwinds through subprocess.run or the finally
    # below, so neither the compiler nor the JVM outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    classpath, cds = build.ensure()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    tmp = HERE / ".run" / f"{tag}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    result = tmp / "result.json"
    log = out / f"{a.workload}-trace{a.trace}.log"
    cmd = build.main_cmd(classpath, tmp, cds) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--tmp", str(tmp), "--result", str(result),
        "--spans", str(out / f"spans-{tag}.json")]
    proc, res = None, None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        if rc == 0:
            res = json.loads(result.read_text())
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if res is None:
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        print(f"perfbench: {a.workload} failed ({rc}); log in {log}", file=sys.stderr)
        return 1
    if sorted(res["metrics"]) != sorted(expected):
        print("perfbench: metrics do not match BENCHMARK.json", file=sys.stderr)
        return 1

    print(f"# {a.workload} seed={a.seed} inputs={res['checksum']} box_calib_ms={res['box_calib_ms']:.1f}")
    for name, m in res["detail"].items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    for p in res["problems"]:
        print(f"check failed: {p}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
