"""graft's end-to-end, layer-by-layer benchmark.

    python3 perfbench/run.py --workload cli_files --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft from source (first run
only), generates the workload's inputs from the seed, runs the harness
in one JVM with one graft session at local[4], and prints a report; the
last line of stdout is the result as one JSON object. `--trace 0` gives
the end-to-end metrics, `--trace 1` the per-layer ones (and a spans file
under perfbench/.out/). See perfbench/README.md.
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
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["cli_files", "stream_drain", "dedup_exact", "dedup_corpus"]
DEADLINE_S = 170
JVM_OPTS = [
    # a fixed heap and young generation, so that peak RSS depends on what
    # the program keeps, not on when G1 grows the heap or resizes eden
    "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def run_jvm(cmd, work, deadline):
    """Run the harness in its own process group; kill the group on timeout."""
    # the engine's defaults, not a tuning override from the caller's shell
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: harness did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="bench", choices=sorted(gen.SCALES))
    ap.add_argument("--selftest", action="store_true",
                    help="check each op's output and corrupted copies of it, "
                         "print the verdicts as JSON; no timing")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/Cli.scala")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft not found)")
    cp, sid = build.build(root)
    # the first run in a checkout also compiles; the limit is for the run
    deadline = time.monotonic() + DEADLINE_S

    out_dir = os.path.join(root, "perfbench/.out")
    work = os.path.join(root, "perfbench/.work", f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    try:
        generated = gen.generate(a.workload, a.seed, a.scale, inputs)
        stem = os.path.join(out_dir, f"{a.workload}-trace{a.trace}")
        cmd = [build.java()] + JVM_OPTS + [
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--dir", inputs, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", f"{work}/result.json",
            "--detail", f"{stem}.detail.json", "--spans", f"{stem}.spans.json",
            "--selftest", str(int(a.selftest))]
        code = run_jvm(cmd, work, deadline)
        if code != 0:
            raise SystemExit(f"perfbench: harness exited with {code}")
        if a.selftest:
            with open(f"{work}/result.json") as f:
                print(f.read().strip())
            return
        with open(f"{work}/result.json") as f:
            result = json.load(f)
        with open(f"{stem}.detail.json") as f:
            detail = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    config = dict(detail["config"], seed=a.seed, scale=a.scale, source_id=sid)
    print(f"perfbench {a.workload} " + json.dumps(config))
    print("inputs: " + json.dumps({"gen_s": round(generated["gen_s"], 3),
                                   "rows": generated["input_rows"],
                                   "bytes": sum(generated["file_bytes"].values())}))
    verdict = "PASS" if result["correct"] else "FAIL"
    print(f"verdict {a.workload}: {verdict} ({result['attempted']} ops, "
          f"{result['failed']} failed, error_rate {detail['error_rate']:.4f})")
    for name, o in sorted(detail["ops"].items()):
        if o["failed"]:
            print(f"  {name}: {o['failed']} of {o['ops']} wrong: {o['errors'][0]}")
    tail = detail["op_tail"]
    if tail:
        print(f"op_tail_s is p{tail['percentile']:.1f} of {tail['ops']} ops")
    if a.trace:
        # the untraced half of the same run, beside the per-layer figures
        for name, m in sorted(detail["untraced"].items()):
            print(f"untraced {name} = {m['value']:.6g} {m['unit']}")
    for name, m in sorted(result["metrics"].items()):
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
