"""Self-test of the benchmark: every workload at tiny size, untraced and traced.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json lists the per-layer metrics ``layers.py``
reports, that each run exits 0, that its last line is a correct result
carrying exactly the metrics BENCHMARK.json names, and that a seed
regenerates byte-identical inputs while another seed does not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2].removeprefix("# detail "))
    return json.loads(lines[-1]), detail


def main() -> int:
    import layers

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert layers.catalog() == bench["per_layer"], "BENCHMARK.json per_layer is stale"
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for wl in (w["name"] for w in bench["workloads"]):
        digests = []
        for seed, trace in ((1, 0), (1, 1), (2, 0)):
            res, detail = run(wl, seed, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0, (wl, trace, detail["errors"])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (wl, trace, set(got) ^ set(want[trace]))
            digests.append(detail["input_sha256"])
            print(f"ok {wl} seed={seed} trace={trace} samples={detail['samples']}")
        assert digests[0] == digests[1] != digests[2], digests
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
