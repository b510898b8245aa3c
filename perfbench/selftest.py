"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py           # gate, parsers, tables, tiny runs
    python3 perfbench/selftest.py --quick   # without the tiny Spark runs

The gate must catch a corrupted digest, a dropped url and a duplicated
url; the oracle comparison must catch a changed value, a missing row and a
renamed column; and a tiny run of each mode must print every metric
``BENCHMARK.json`` names, with its unit.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import coretrace, gate, run, sparkrec  # noqa: E402


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def test_gate() -> None:
    golden = {
        f"u{i}": [f"{i:064x}", True, i, None] for i in range(5)
    }
    good = [(u, *v) for u, v in golden.items()]
    expect(gate.check_rows(good, golden)[:2] == (5, 0), "clean rows pass")
    corrupt = list(good)
    corrupt[2] = (corrupt[2][0], "0" * 64, *corrupt[2][2:])
    expect(gate.check_rows(corrupt, golden)[1] == 1, "corrupted digest caught")
    expect(gate.check_rows(good[1:], golden)[1] == 1, "dropped url caught")
    expect(gate.check_rows(good + good[:1], golden)[1] == 1, "duplicated url caught")
    flipped = list(good)
    flipped[3] = (flipped[3][0], flipped[3][1], False, *flipped[3][3:])
    expect(gate.check_rows(flipped, golden)[1] == 1, "success flag checked")
    stray = good + [("elsewhere", "0" * 64, True, 0, None)]
    expect(gate.check_rows(stray, golden)[1] == 1, "stray url caught")


def test_metric_parser() -> None:
    v = sparkrec.metric_value
    expect(v("1,234") == 1234.0, "count")
    expect(abs(v("3.5 MiB") - 3.5 * 2**20) < 1e-6, "bytes")
    expect(v("0 ms") == 0.0, "zero time")
    expect(
        abs(v("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") - 1.5) < 1e-9,
        "per-task total",
    )
    expect(abs(v("total (min, med, max)\n2.0 m (1 ms)") - 120.0) < 1e-9, "minutes")


def test_self_times() -> None:
    t = coretrace.CoreTrace()
    t.spans = [
        ("assemble", 0.0, 10.0, None, 0),
        ("det", 1.0, 4.0, 0, 0),
        ("rec", 5.0, 6.0, 0, 0),
    ]
    s = t.self_times()
    expect(s == {"assemble": 6.0, "det": 3.0, "rec": 1.0}, f"self times {s}")
    expect(sum(s.values()) == t.root_wall(), "self times sum to the root wall")


def test_compare_frames() -> None:
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    expect(gate.compare_frames(want[::-1], want) == [], "row order ignored")
    expect(
        gate.compare_frames(want.assign(v=[0.5, 1.2500004]), want) == [],
        "floats compared to 6 decimals",
    )
    expect(gate.compare_frames(want.assign(v=[0.5, 1.3]), want), "value caught")
    expect(gate.compare_frames(want[:1], want), "missing row caught")
    expect(gate.compare_frames(want.rename(columns={"v": "w"}), want), "column caught")


def test_workloads() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    expect(names == list(run.WORKLOADS), f"workloads {names} != run.py")


def tiny_run(workload: str, trace: int) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if trace else "end_to_end"]
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", "0", "--seconds", "1", "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    expect(p.returncode == 0, f"tiny run exit {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    expect(
        set(result) == {"correct", "attempted", "failed", "metrics"}, "result keys"
    )
    expect(result["correct"] and result["failed"] == 0, "tiny run correct")
    for m in wanted:
        got = result["metrics"].get(m["name"])
        expect(got is not None, f"metric {m['name']} printed")
        expect(got["unit"] == m["unit"], f"unit of {m['name']}")
        expect(isinstance(got["value"], (int, float)), f"value of {m['name']}")
    return result


def main() -> None:
    test_gate()
    test_metric_parser()
    test_self_times()
    test_compare_frames()
    test_workloads()
    if "--quick" not in sys.argv:
        for workload, trace in (("extract_mix", 0), ("extract_mix", 1), ("curate", 1)):
            tiny_run(workload, trace)
    print("selftest ok")


if __name__ == "__main__":
    main()
