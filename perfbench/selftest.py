"""Self-test of the graft benchmark at tiny sizes.

    python3 perfbench/selftest.py

Runs every workload once, traced, with tiny parameters and checks that
the run is correct and emits every end-to-end and per-layer metric named
in BENCHMARK.json, each with its unit. Then checks the two failure paths
(a corrupted golden hash must fail an operator_suite run, and a wrong
served answer must fail a daemon_query run) and that their untraced
result lines, which carry the end-to-end metrics, stay under 2 KB.
Exits non-zero on any miss.
"""
import json
import os
import sys

sys.dont_write_bytecode = True
import run  # noqa: E402

TINY = {
    "daemon_ingest": {"rate": 2000, "cycle_ms": 500, "compact_every": 2,
                      "firehose_lines": 20000, "firehose_reps": 1, "warmup_cycles": 1},
    "daemon_query": {"slices": 2, "points_per_path_slice": 10},
    "operator_suite": {"batch_ops": "index_build,write_stats",
                       "stream_ops": "stream_rollup_append"},
}
SEED = 7
SECONDS = 2


def line(result):
    """The result line run.py prints last."""
    return json.dumps(result, separators=(",", ":"))


def units(metrics):
    return {m["name"]: m["unit"] for m in metrics}


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, layers = units(bench["end_to_end"]), units(bench["per_layer"])
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    for w, tiny in TINY.items():
        result, code = run.run(w, SEED, SECONDS, 1, tiny)
        expect(code == 0 and result["correct"] and result["failed"] == 0,
               f"{w}: traced tiny run is correct")
        if result is None:
            continue
        with open(os.path.join(run.OUT, f"{w}-seed{SEED}-trace1.json")) as f:
            rec = json.load(f)
        got_e2e = {k: v["unit"] for k, v in rec["end_to_end"].items()}
        got_layers = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got_e2e == e2e, f"{w}: every end-to-end metric emitted with its unit")
        expect(got_layers == layers, f"{w}: every per-layer metric emitted with its unit")

    # a corrupted golden hash must count as a failed op
    with open(os.path.join(run.HERE, "golden", "operator_suite.json")) as f:
        golden = json.load(f)
    golden["index_build"]["hash"] = str(int(golden["index_build"]["hash"]) + 1)
    bad = os.path.join(run.OUT, "selftest_golden.json")
    os.makedirs(run.OUT, exist_ok=True)
    with open(bad, "w") as f:
        json.dump(golden, f)
    result, code = run.run("operator_suite", SEED, 1, 0,
                           dict(TINY["operator_suite"], golden=bad))
    expect(code == 0 and result["failed"] > 0 and not result["correct"],
           "operator_suite: corrupted golden hash drives op_fail_ratio above 0")
    if result is not None:
        expect(len(line(result)) < 2048, "operator_suite: end-to-end result line under 2 KB")

    # a wrong served answer must count as a failed query
    result, code = run.run("daemon_query", SEED, 1, 0,
                           dict(TINY["daemon_query"], corrupt_answer=1))
    expect(code == 0 and result["failed"] > 0 and not result["correct"],
           "daemon_query: wrong served answer drives query_fail_ratio above 0")
    if result is not None:
        expect(len(line(result)) < 2048, "daemon_query: end-to-end result line under 2 KB")

    if problems:
        print(f"selftest: {len(problems)} problem(s)")
        sys.exit(1)
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()
