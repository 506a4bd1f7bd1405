"""Smoke test of the benchmark itself, at the tiny scale.

    python3 perfbench/smoke_test.py      # from the repository root, ~7 min

For every workload it checks that a run prints its result as the last
stdout line, with every metric BENCHMARK.json names (end-to-end with
--trace 0, per-layer with --trace 1) and that metric's unit. It then
feeds each checker deliberately corrupted copies of a real result and
asserts that every corruption is rejected, and that the real results of
the registered workloads pass.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def last_json(args):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args,
                       capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    registered = [w["name"] for w in bench["workloads"]]
    problems = []
    for workload in run.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = last_json(["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny"])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["attempted"] >= 1 and 0 <= res["failed"] <= res["attempted"]
            if workload not in registered:
                # not gated, so its checks may fail without failing the smoke test
                print(f"{workload} trace={trace}: correct={res['correct']} "
                      f"failed {res['failed']} of {res['attempted']}")
                continue
            if not res["correct"]:
                problems.append(f"{workload} trace={trace}: {res['failed']} ops wrong")
            for m in bench[kind]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{workload} trace={trace}: no metric {m['name']}")
                elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{workload} trace={trace}: {m['name']} is {got}")
        verdicts = last_json(["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--scale", "tiny", "--selftest"])
        for op, v in verdicts.items():
            if workload in registered and v["clean_error"]:
                problems.append(f"{workload}/{op}: real result rejected: {v['clean_error']}")
            if not v["corruption_rejected"]:
                problems.append(f"{workload}/{op}: no corruption tried")
            for what, rejected in v["corruption_rejected"].items():
                if not rejected:
                    problems.append(f"{workload}/{op}: corruption accepted: {what}")
        print(f"{workload}: checked {len(verdicts)} ops")
    if problems:
        print("FAILED\n  " + "\n  ".join(problems))
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
