#!/usr/bin/env python3
"""Self-test of the benchmark on a toy workload.

Usage, from the root of a checkout:

    python3 perfbench/selftest.py

The `selftest` workload (perfbench/workloads.json) runs two real queries
at sf0.001 plus one name the registry does not have. The test checks:
- the bad name is counted as a failure on every execution and appears
  in no timing;
- every metric BENCHMARK.json names is printed, with its unit;
- in the traced run, the self times of each query's span subtree add
  up to no more than the query's wall;
- no new graft, spark or JVM entries appear in the system temp dir.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

BAD = "no_such_query"
TEMP_PREFIXES = ("graft", "spark", "blockmgr", "hsperfdata", "jsonl_rt", "perfbench")


def bench(trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "selftest",
                        "--seed", "7", "--seconds", "2", "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_metrics(result, declared):
    printed = result["metrics"]
    assert set(printed) == {m["name"] for m in declared}, (
        sorted(set(printed) ^ {m["name"] for m in declared}))
    for m in declared:
        got = printed[m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got["unit"], m["unit"])
        assert isinstance(got["value"], (int, float)), (m["name"], got)


def check_failure_accounting(rc, detail, result):
    queries = json.loads((HERE / "workloads.json").read_text())["selftest"]["queries"]
    good = len(queries) - 1
    runs_each = run.WARM_PASSES + detail["passes"]
    assert rc != 0, "a run with a failing query must exit non-zero"
    assert result["correct"] is False
    # every execution of the bad name, plus its verification, fails
    assert result["failed"] == runs_each + 1, result
    assert result["attempted"] == len(queries) * (runs_each + 1), result
    assert BAD not in detail["query_median_s"], detail["query_median_s"]
    plain = detail["passes"] - (detail["passes"] // 2 if detail.get("spans") else 0)
    want = good * min(plain, run.QUERY_PASSES)
    assert detail["query_samples"] == want, (detail["query_samples"], want)


def check_spans(path):
    spans = [json.loads(line) for line in Path(path).read_text().splitlines()]
    assert spans, "the traced run recorded no spans"
    assert not any(s["query"] == BAD for s in spans), "a failed query was traced"
    self_ns = run.self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        return self_ns[s["id"]] + sum(subtree(c) for c in kids.get(s["id"], []))

    queries = [s for s in spans if s["name"] == "query"]
    for q in queries:
        total, wall = subtree(q), q["end_ns"] - q["start_ns"]
        assert 0 <= total <= wall, (q["query"], total, wall)
        assert all(self_ns[c["id"]] >= 0 for c in kids.get(q["id"], []))
    return len(queries)


def temp_entries():
    d = Path(tempfile.gettempdir())
    return {p.name for p in d.iterdir() if p.name.startswith(TEMP_PREFIXES)}


def main():
    spec = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    before = temp_entries()

    rc, detail, result = bench(0)
    check_failure_accounting(rc, detail, result)
    check_metrics(result, spec["end_to_end"])
    print(f"untraced: {result['failed']}/{result['attempted']} failed, "
          f"{len(result['metrics'])} metrics")

    rc, detail, result = bench(1)
    check_failure_accounting(rc, detail, result)
    check_metrics(result, spec["per_layer"])
    n = check_spans(detail["spans"])
    print(f"traced: {len(result['metrics'])} metrics, {n} query span trees checked")

    new = temp_entries() - before
    assert not new, f"new temp entries: {sorted(new)}"
    print("selftest passed")


if __name__ == "__main__":
    main()
